"""True late-data side output (sideOutputLateData parity).

Reference: WindowedStream.sideOutputLateData
(/root/reference/flink-streaming-java/src/main/java/org/apache/flink/
streaming/api/datastream/WindowedStream.java:171) re-routes every element
the watermark has passed (WindowOperator.isElementLate) to a side output
— the ROWS, not a count. Structured Streaming's watermark filter drops
late rows inside the engine and only counts them
(numRowsDroppedByWatermark), so the side output must be produced BEFORE
the watermark is declared.

Spark-first design: a self-watermarking SPLITTER runs ahead of the
watermarked pipeline — a NoTimeout step on stateful._keyed_process (no
watermark required on this path; the runner's rules are in the stateful
module header), carrying the running max event time in keyed state.
Each micro-batch is judged against the frontier the PREVIOUS batches
established (`max_ts - delay`), which is exactly the watermark Spark
itself would compute at batch granularity, and exactly
WindowOperator.isElementLate with allowedLateness folded into the delay.
Rows are tagged `is_late`; the on-time branch feeds `withWatermark` (its
rows are by construction at or above the frontier Spark will compute, so
nothing is double-dropped) and the late branch is the recovered side
output.

Scale shape: state is ONE ms-timestamp per splitter key. The default
single global key serializes the splitter through one task — correct
and cheap for replay/audit gates, but a bottleneck at cluster scale;
pass `partition_col` (e.g. a Kafka partition id) to run one frontier per
source partition, which is precisely the reference's per-partition
watermark before operator merge (BoundedOutOfOrdernessTimestampExtractor
semantics per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def late_data_split(
    stream: DataFrame,
    ts_col: str = "ts",
    delay_ms: int = 0,
    partition_col: str | None = None,
) -> DataFrame:
    """Tags every row with `is_late`: true iff its event time is strictly
    below the frontier (running max event time of PRIOR micro-batches
    minus `delay_ms`) — batch-granularity watermark semantics, matching
    both Spark's own filter and WindowOperator.isElementLate. Returns the
    input columns plus `is_late boolean`."""
    from proteus_engine_spark.streaming.stateful import _keyed_process

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in stream.schema.fields
    )
    out_schema = f"{fields}, is_late boolean"
    cols = [f.name for f in stream.schema.fields]

    def split(_key, pdf, st, _wm, _timed_out):
        if pdf is None:
            return None, st, None
        max_ms = st["max_ms"]
        ts_ms = pdf[ts_col].values.astype("datetime64[ms]").astype("int64")
        out = pdf[cols].copy()
        out["is_late"] = False if max_ms is None else ts_ms < max_ms - delay_ms
        batch_max = int(ts_ms.max())
        st["max_ms"] = batch_max if max_ms is None else max(max_ms, batch_max)
        return out, st, None

    key = partition_col if partition_col is not None else "__wmkey__"
    src = (
        stream
        if partition_col is not None
        else stream.withColumn("__wmkey__", F.lit(0))
    )
    return _keyed_process(src, [key], out_schema, split, "NoTimeout", {"max_ms": None})


def side_output_late_data(
    stream: DataFrame,
    ts_col: str = "ts",
    delay_ms: int = 0,
    partition_col: str | None = None,
    allowed_lateness_ms: int = 0,
    watermark: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """sideOutputLateData + getSideOutput parity: returns
    (on_time, late) — two branches of one `late_data_split`. The on-time
    branch is what the watermarked main pipeline consumes; the late
    branch carries the EXACT rows the watermark passed (the reference's
    side output content, not merely the drop count).

    ``allowed_lateness_ms`` is WindowedStream.allowedLateness
    (WindowedStream.java:143) made explicit: a row is routed to the side
    output only once it is later than watermark delay PLUS the allowed
    lateness — in frontier terms the two simply add
    (WindowOperator.isElementLate compares against
    window.maxTimestamp + allowedLateness). Callers that already folded
    lateness into ``delay_ms`` keep working; the parameter exists so the
    two knobs can be stated separately, as the reference API does.

    The on-time branch comes back ALREADY watermarked at
    ``delay_ms + allowed_lateness_ms`` — never re-watermark it with a
    tighter delay. Spark has no per-window lateness retention, so the
    allowed-lateness band (rows between `delay` and `delay + lateness`
    behind the frontier) can only survive by widening the engine
    watermark; a downstream ``withWatermark(ts, delay)`` would silently
    drop exactly that band inside the engine (counted only in
    numRowsDroppedByWatermark), leaving those rows in NEITHER branch.
    With the widened watermark they surface as ordinary in-watermark
    updates — Spark's equivalent of the reference's late window
    re-firing.

    ``watermark=False`` opts out of the applied watermark and returns the
    on-time branch RAW — for callers that owned watermarking before this
    function applied one (pre-r10 behavior), or that attach the frame to
    a pipeline with its own watermark policy. The override hazard above
    is then entirely the caller's: Spark cannot enforce that a downstream
    ``withWatermark`` keeps the delay+lateness band, and a tighter one
    silently drops exactly that band inside the engine (visible only in
    numRowsDroppedByWatermark)."""
    total_ms = delay_ms + allowed_lateness_ms
    tagged = late_data_split(stream, ts_col, total_ms, partition_col)
    on_time = tagged.filter(~F.col("is_late")).drop("is_late")
    if watermark:
        on_time = on_time.withWatermark(ts_col, f"{total_ms} milliseconds")
    late = tagged.filter(F.col("is_late")).drop("is_late")
    return on_time, late
