"""PROTEUS side inputs — the reference fork's headline feature.

Reference: DataStream.withSideInput (flink-streaming-java/src/main/java/
org/apache/flink/streaming/api/datastream/DataStream.java:902, @Proteus
:899) with three distribution modes (BroadcastedSideInput :904,
ForwardedSideInput :907, KeyedSideInput :910; classes in api/datastream/
utils/), consumed via RuntimeContext.getSideInput (flink-core/.../
RuntimeContext.java:495), executed by MultipleInputStreamTask
(runtime/tasks/MultipleInputStreamTask.java:48).

Spark-first mapping (SURVEY header): the dominant use case — enriching a
stream against a slowly-changing bounded dataset — is a stream-static join.

Snapshot semantics: MultipleInputStreamTask drains each side-input gate
once into lists the operator reads. ``_drain`` does the same when the
query is built. It pins the bounded side with an eager local checkpoint,
so the side's scan and the work above it run once, and every micro-batch
joins against the pinned rows. A side input is therefore a snapshot taken
at query start. Files rewritten or deleted under the side's path after
that are not seen; restart the query to pick up a new version. (Re-reading
the side every micro-batch would not see new files either: Spark freezes
a static side's file listing when the plan is built.)

Each micro-batch still runs one broadcast job per broadcast side. Spark
plans every micro-batch afresh, and a broadcast exchange cannot be
carried from one batch's plan into the next. That job reads the pinned
blocks, not the side's files. A side cached pre-partitioned by key would
avoid that exchange. But under AQE a pin drops its hash partitioning, and
a cache needs a lifecycle tied to the query's.

- BroadcastedSideInput → stream-static join with broadcast hint (every
  task sees the whole side input).
- KeyedSideInput       → stream-static equi-join on the key (side input
  partitioned by key, matching rows visible per key).
- ForwardedSideInput   → per-partition zip is not meaningful under Spark's
  dynamic partitioning; provided as a union of tagged streams, the
  documented deviation (forwarding assumes fixed co-partitioning, which
  Spark does not expose).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _drain(side: DataFrame) -> DataFrame:
    """Drain the bounded side once: pin its rows now, so no micro-batch
    re-reads the side's source. The pin keeps the side's stats, so
    Catalyst still picks the join strategy by size."""
    if side.isStreaming:
        raise ValueError("a side input is a bounded dataset; join two streams directly")
    return side.localCheckpoint(eager=True)


def broadcast_side_input(
    stream: DataFrame, side: DataFrame, on: Column | list[str] | None = None, how: str = "left"
) -> DataFrame:
    """BroadcastedSideInput (DataStream.java:904): every worker sees the full
    side input. `on=None` gives the full cross-product visibility of
    getSideInput(); with a condition it is the usual broadcast enrichment."""
    b = F.broadcast(_drain(side))
    if on is None:
        return stream.crossJoin(b)
    return stream.join(b, on, how)


def keyed_side_input(
    stream: DataFrame, side: DataFrame, on: Column | list[str], how: str = "left"
) -> DataFrame:
    """KeyedSideInput (DataStream.java:910): the side input is keyed the same
    way as the main stream; each key group sees its slice. Stream-static
    equi-join; Spark broadcasts or shuffles the drained side by its stats."""
    return stream.join(_drain(side), on, how)


def forwarded_side_input(stream: DataFrame, side: DataFrame, tag_col: str = "__side__") -> DataFrame:
    """ForwardedSideInput (DataStream.java:907): per-partition forwarding has
    no Spark equivalent (documented deviation); the capability parity —
    processing main and side records interleaved in one operator — is a
    tagged union (columns aligned by name, missing ones nulled)."""
    all_cols = list(dict.fromkeys(stream.columns + side.columns))

    def pad(df: DataFrame, is_side: bool) -> DataFrame:
        cols = [
            (F.col(c) if c in df.columns else F.lit(None)).alias(c) for c in all_cols
        ]
        return df.select(*cols, F.lit(is_side).alias(tag_col))

    return pad(stream, False).unionByName(pad(side, True))
