"""Streaming sources.

Reference: StreamExecutionEnvironment sources (socketTextStream :1186,
readFile PROCESS_CONTINUOUSLY :991, fromElements :696, addSource :1391,
Kafka connectors in /root/reference/flink-connectors/) — mapped to
Structured Streaming's file/rate/kafka/socket sources.

For tests and oracle checks, the events parquet is replayed through the
file source: bounded input driven to completion with processAllAvailable(),
which makes streaming results deterministic and comparable to batch SQL —
the PySpark analogue of the reference's bounded ITCase streams
(StreamITCase pattern in flink-table tests).

Every stateful operator plans one state-store instance per session shuffle
partition (``get_session`` defaults that count to the cores): with
checkpoint files written through the FileSystem-based manager (session.py),
a state commit costs 3-14 ms per instance and batch on the four heavy
streaming gates (sf0.1, 4 cores, ``scripts/ab_stream_parts.py``), too
little to size streams apart from batch queries.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proteus_engine_spark.sources.tables import read_parquet_nanos

# The repo's scratch root: staged replays live directly under it (read by
# concurrent queries, never collected); every per-invocation or staging
# temp dir lives under its `tmp/`, the one directory swept by age.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)
_TMP_MAX_AGE_S = 1800


def scratch_tmp(prefix: str) -> str:
    """A fresh, unique temp dir under ``SCRATCH/tmp/``. Siblings older
    than 30 min are removed best-effort first: the dirs are read lazily
    by the DataFrames built on them, so none is removed by its creator,
    and a staging run that crashed leaves its dir behind."""
    import shutil
    import tempfile
    import time

    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    now = time.time()
    for entry in os.listdir(tmp):
        full = os.path.join(tmp, entry)
        try:
            if now - os.path.getmtime(full) > _TMP_MAX_AGE_S:
                shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix, dir=tmp)


def probe_parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """Footer-probe a parquet file's Spark-visible schema, under the batch
    source's TIMESTAMP(NANOS) read policy (``read_parquet_nanos``)."""
    return read_parquet_nanos(spark, path).schema


def parquet_stream(
    spark: SparkSession,
    directory: str,
    name: str,
    one_file_per_batch: bool = False,
) -> DataFrame:
    """The parquet files in ``directory`` whose names match ``name`` as an
    unbounded stream (the senv.readFile(PROCESS_CONTINUOUSLY) equivalent;
    the file source needs a directory, so a single table file is selected
    with ``pathGlobFilter``). ``one_file_per_batch`` makes each file its
    own micro-batch, in mtime order.

    The stream schema is PROBED from the first matching file's footer,
    never assumed. A ``ts`` column becomes TIMESTAMP, which watermarks
    require (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE): TIMESTAMP(NANOS) read as
    long is divided down to micros (mirroring sources/tables.py's batch
    path), and TIMESTAMP_NTZ is cast, wall-clock preserving under the UTC
    session timezone (session.py pins spark.sql.session.timeZone=UTC)."""
    probe = sorted(glob.glob(os.path.join(glob.escape(directory), name)))
    schema = probe_parquet_schema(spark, probe[0] if probe else os.path.join(directory, name))
    reader = spark.readStream.schema(schema).format("parquet").option("pathGlobFilter", name)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    raw = reader.load(directory)
    ts_type = schema["ts"].dataType if "ts" in schema.names else None
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        raw = raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream."""
    return parquet_stream(spark, sf_dir, "events.parquet")


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """senv.generateSequence equivalent: the rate source (monotonic value +
    proc-time timestamp)."""
    return (
        spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second)).load()
    )


def run_to_completion_observed(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
) -> tuple[DataFrame, list]:
    """Drive a (bounded) streaming DataFrame to completion into a memory
    sink; return the final result table and the query's progress events
    (for metric assertions: dropped-late-row counts etc.). Test/oracle
    harness only — a production deployment writes to parquet/kafka with
    checkpointing."""
    q = df.writeStream.outputMode(output_mode).format("memory").queryName(query_name).start()
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination()
    return df.sparkSession.table(query_name), progress


def run_to_completion(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """``run_to_completion_observed`` returning only the result table."""
    return run_to_completion_observed(df, query_name, output_mode)[0]


def _stage_replay(sf_dir: str, target: str, split) -> str:
    """Stage ``sf_dir``'s events as numbered files under the repo's
    ``.scratch/<target>``, once per target: ``split(tbl)`` returns
    (piece index per row, piece count), piece p is written to
    ``fNN.parquet`` with a fixed mtime 60 s after piece p - 1, so file
    arrival order is deterministic. Staging goes to a ``scratch_tmp`` dir
    and is renamed into place atomically (concurrent runs are safe);
    ``_SUCCESS`` marks a complete stage. Returns the staged directory."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    target = os.path.join(SCRATCH, target)
    if os.path.exists(os.path.join(target, "_SUCCESS")):
        return target
    tmp = scratch_tmp("stage_")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    piece, n_pieces = split(tbl)
    mtime_base = 1_000_000_000  # fixed epoch: deterministic ordering
    for p in range(n_pieces):
        path = os.path.join(tmp, f"f{p:02d}.parquet")
        pq.write_table(tbl.filter(pa.array(piece == p)), path)
        os.utime(path, (mtime_base + 60 * p, mtime_base + 60 * p))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.utime(os.path.join(tmp, "_SUCCESS"), (mtime_base, mtime_base))
    if os.path.isdir(target) and not os.path.exists(os.path.join(target, "_SUCCESS")):
        # A previous staging run crashed after creating target but before
        # its rename completed: os.replace onto a non-empty dir fails
        # ENOTEMPTY forever, and treating that as "concurrent run won"
        # would stream from the permanently incomplete dir. Clear it first.
        shutil.rmtree(target, ignore_errors=True)
    try:
        os.replace(tmp, target)  # atomic: same filesystem (sibling dirs)
    except OSError:
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent run won
        else:
            raise  # neither ours nor a completed concurrent stage
    return target


def events_stream_ooo(
    spark: SparkSession,
    sf_dir: str,
    block_ms: int = 7_200_000,
    n_blocks: int = 6,
) -> DataFrame:
    """The events table replayed OUT OF ORDER across micro-batches — the
    harness for event-time correctness tests of watermark-buffered
    operators (the reference's RowTime*Over / WindowOperator ITCases feed
    late elements the same way).

    Rows are staged (``_stage_replay``) into files [head] [b1 b0 b3 b2 b5
    b4] [tail], where b0..b5 are consecutive `block_ms` event-time blocks
    starting at 45% of the span and the pair-swap makes every other file
    arrive BEFORE an earlier-in-event-time file. Each file is its own
    micro-batch, so a downstream operator sees genuinely late (but
    within-watermark-delay) data. With 2h blocks the worst lateness is
    < 4h, so any watermark delay >= 4h (callers use 5h) loses no rows.
    """

    def split(tbl):
        import numpy as np

        ts_us = tbl.column("ts").to_numpy().astype("datetime64[us]").astype("int64")
        lo, hi = int(ts_us.min()), int(ts_us.max())
        swap_start = lo + (hi - lo) * 45 // 100
        # piece index per row: 0 = head, 1..n_blocks = swapped blocks
        # (block i -> piece 1 + (i XOR 1)), n_blocks+1 = tail
        blk = (ts_us - swap_start) // (block_ms * 1000)
        piece = np.where(
            ts_us < swap_start,
            0,
            np.where(blk >= n_blocks, n_blocks + 1, 1 + (blk ^ 1)),
        ).astype("int64")
        return piece, n_blocks + 2

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    target = _stage_replay(sf_dir, f"ooo_events_{sf_tag}_{block_ms}_{n_blocks}", split)
    return parquet_stream(spark, target, "*.parquet", one_file_per_batch=True)


# THE single source for the late-replay split point. The staging below,
# the gate bodies' delay computation (via late_cut_ms) and the gates'
# oracle SQL literals (f-string interpolation in queries/streaming_q.py)
# all derive from this one constant — changing the cut in one place keeps
# the splitter delay and the staged late set in sync.
LATE_CUT_PCT = 55


def _late_cut_formula(lo: int, hi: int, cut_pct: int) -> int:
    """THE shared split-point formula (staging + gates + oracle all use
    its result for the same cut_pct over the same bounds)."""
    return lo + (hi - lo) * cut_pct // 100


def late_cut_ms(sf_dir: str, cut_pct: int = LATE_CUT_PCT) -> tuple[int, int, int]:
    """(lo, hi, cut) epoch-ms bounds of the staged late split — the same
    formula the staging applies. Cost: one driver-side read of the ts
    column (decoded to take min/max — NOT a footer-statistics-only
    probe); the staging path avoids this read entirely by applying the
    formula to the ts array it already holds."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts"])
    ts_ms = tbl.column("ts").to_numpy().astype("datetime64[ms]").astype("int64")
    lo, hi = int(ts_ms.min()), int(ts_ms.max())
    return lo, hi, _late_cut_formula(lo, hi, cut_pct)


def events_stream_late(
    spark: SparkSession,
    sf_dir: str,
    cut_pct: int = LATE_CUT_PCT,
) -> DataFrame:
    """The events table replayed so that a known subset arrives LATE —
    beyond the watermark — the harness for sideOutputLateData-style
    observability (WindowedStream.java:171; the reference exposes dropped
    late elements as a side output, Spark as the
    numRowsDroppedByWatermark state-operator metric).

    Rows are staged (``_stage_replay``) split at
    cut = lo + (hi - lo) * cut_pct // 100 on epoch-ms —
      f00: on-time rows (ts_ms >= cut) EXCEPT the earliest one; contains
           the global max ts, so the watermark jumps to hi - delay.
      f01: the single earliest on-time row — a spacer batch, because
           Spark's late filter uses the watermark lagged one micro-batch
           behind eviction; after this batch the filter watermark is
           hi - delay.
      f02: every row with ts_ms < cut — all far below the filter
           watermark by construction, so ALL of them are dropped and
           counted: drop count == COUNT(ts_ms < cut), SQL-expressible.
    Each file is its own micro-batch, in that order.
    """

    def split(tbl):
        import numpy as np

        ts_ms = tbl.column("ts").to_numpy().astype("datetime64[us]").astype("int64") // 1000
        ids = tbl.column("event_id").to_numpy().astype("int64")
        # the one shared formula, over the ts array already in memory
        # (no second read of the file)
        on_time = ts_ms >= _late_cut_formula(int(ts_ms.min()), int(ts_ms.max()), cut_pct)
        # earliest on-time row by (ts_ms, event_id) — the spacer
        ot_idx = np.flatnonzero(on_time)
        spacer = ot_idx[np.lexsort((ids[ot_idx], ts_ms[ot_idx]))[0]]
        piece = np.where(on_time, 0, 2)
        piece[spacer] = 1
        return piece, 3

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    target = _stage_replay(sf_dir, f"late_events_{sf_tag}_{cut_pct}", split)
    return parquet_stream(spark, target, "*.parquet", one_file_per_batch=True)


def dropped_late_rows(progress: list) -> int:
    """Total input rows dropped by the watermark across a query's run —
    the observability half of the reference's sideOutputLateData
    (WindowedStream.java:171): Spark cannot re-route the dropped rows,
    but it counts them per stateful operator
    (StreamingQueryProgress.stateOperators[].numRowsDroppedByWatermark);
    SURVEY §2.9's 'dropped-late-rows observable via metrics' hook."""
    return sum(
        so.get("numRowsDroppedByWatermark", 0) if isinstance(so, dict)
        else so["numRowsDroppedByWatermark"]
        for pr in progress
        for so in (pr["stateOperators"] if isinstance(pr, dict) else pr["stateOperators"])
    )
