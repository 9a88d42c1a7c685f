"""Window trigger/evictor tests (Trigger.java / Evictor.java parity):
count-fire points and eviction fronts are positions in event-time order,
deterministic across micro-batch splits; event-time windows close at the
watermark with the evictor applied; invalid compositions are rejected."""

from __future__ import annotations

import pandas as pd
import pytest

from proteus_engine_spark.streaming.triggers import (
    CountEvictor,
    CountTrigger,
    EventTimeTrigger,
    PurgingTrigger,
    TimeEvictor,
    triggered_window_agg,
)
from proteus_engine_spark.streaming.sources import run_to_completion

from tests.test_streaming import EV_SCHEMA, _ev, _two_batch_stream


def test_count_trigger_purge_evictor_spans_batches(spark):
    # 12 events for user 1 split 7/5 across micro-batches; watermark delay
    # 1 min releases ts <= 10 (wm = 11 - 1). PurgingTrigger(CountTrigger(5))
    # + CountEvictor(3): fire at released events 5 and 10, each summing the
    # LAST 3 of its 5-element buffer. values = minute index.
    a = [_ev(i, i, 1, "x", float(i)) for i in range(7)]
    b = [_ev(i, i, 1, "x", float(i)) for i in range(7, 12)]
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = triggered_window_agg(
        stream, "user_id", "ts", "value",
        trigger=PurgingTrigger(CountTrigger(5)),
        evictor=CountEvictor(3),
        window_ms=None,
        watermark_delay="1 minute",
    )
    collected = run_to_completion(out, "trig_count_purge", "append").collect()
    rows = {r["fire_seq"]: r for r in collected}
    assert set(rows) == {1, 2}
    # fire 1: events 0..4, last 3 = 2+3+4; fire 2: events 5..9, last 3 = 7+8+9
    assert rows[1]["n"] == 3 and rows[1]["total_value"] == pytest.approx(9.0)
    assert rows[2]["n"] == 3 and rows[2]["total_value"] == pytest.approx(24.0)
    assert rows[1]["win_start"] is None  # GlobalWindows


def test_count_trigger_keeps_window_without_purge(spark):
    # CountTrigger(3) WITHOUT purging + no evictor: the window keeps
    # growing, each fire aggregates everything so far.
    a = [_ev(i, i, 1, "x", 1.0) for i in range(5)]
    b = [_ev(i, i, 1, "x", 1.0) for i in range(5, 8)]
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = triggered_window_agg(
        stream, "user_id", "ts", "value",
        trigger=CountTrigger(3), window_ms=None, watermark_delay="1 minute",
    )
    collected = run_to_completion(out, "trig_count_grow", "append").collect()
    rows = {r["fire_seq"]: r for r in collected}
    # wm releases ts <= 6 → 7 events → fires at 3 and 6 elements
    assert rows[1]["n"] == 3 and rows[2]["n"] == 6
    assert rows[2]["total_value"] == pytest.approx(6.0)


def test_event_time_trigger_with_time_evictor(spark):
    # 10-min tumbling windows, TimeEvictor(keep 4 min): the final fire for a
    # closed window aggregates only events with ts > max_ts_in_window - 4min.
    a = [_ev(i, i, 1, "x", 1.0) for i in range(8)]  # window [0, 10): max ts 7
    b = [_ev(20 + i, 20 + i, 1, "x", 1.0) for i in range(3)]  # window [20, 30)
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = triggered_window_agg(
        stream, "user_id", "ts", "value",
        trigger=EventTimeTrigger(),
        evictor=TimeEvictor(4 * 60_000),
        window_ms=10 * 60_000,
        watermark_delay="1 minute",
    )
    rows = run_to_completion(out, "trig_time_evict", "append").collect()
    # Only window [0,10) closes (wm = 22 - 1 = 21 >= 10); [20,30) stays open.
    assert len(rows) == 1
    r = rows[0]
    # max ts = minute 7, cutoff 3 → keep minutes {4,5,6,7}
    assert r["fire_seq"] == 0 and r["n"] == 4
    assert r["total_value"] == pytest.approx(4.0)
    assert pd.Timestamp(r["win_start"]) == pd.Timestamp("2024-01-01 00:00:00")


def test_count_window_parity_with_stateful_count_window(spark):
    # KeyedStream.countWindow(4) == GlobalWindows + PurgingTrigger(CountTrigger(4)).
    from proteus_engine_spark.streaming.stateful import count_window_agg

    a = [_ev(i, i, 2, "x", float(i % 3)) for i in range(9)]
    b = [_ev(i, i, 2, "x", float(i % 3)) for i in range(9, 14)]
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    trig = triggered_window_agg(
        stream, "user_id", "ts", "value",
        trigger=PurgingTrigger(CountTrigger(4)), window_ms=None,
        watermark_delay="1 minute",
    )
    got = sorted(
        (r["fire_seq"], r["n"], r["total_value"])
        for r in run_to_completion(trig, "trig_parity", "append").collect()
    )
    stream2 = _two_batch_stream(spark, a, b, EV_SCHEMA)
    cw = count_window_agg(stream2, "user_id", ["ts", "event_id"], "value", window_size=4)
    ref = sorted(
        (r["win_id"] + 1, r["n"], r["total_value"])
        for r in run_to_completion(cw, "cw_parity", "append").collect()
    )
    # count_window_agg has no watermark gating: it emits all 3 complete
    # windows of 4 over 14 events; the triggered path releases ts <= 12
    # (wm = 13 - 1) = 13 events → the same 3 complete windows.
    assert got == ref and len(got) == 3


def test_global_window_rejects_event_time_trigger(spark):
    stream = _two_batch_stream(
        spark, [_ev(0, 0, 1, "x")], [_ev(1, 1, 1, "x")], EV_SCHEMA
    )
    with pytest.raises(ValueError, match="GlobalWindows never end"):
        triggered_window_agg(
            stream, "user_id", "ts", "value",
            trigger=EventTimeTrigger(), window_ms=None,
        )


def test_continuous_event_time_trigger_boundary_fires(spark):
    # 10-min tumbling window, continuous fires every 4 min of event time:
    # window [0,10) fires at boundary 4 (events 0-4), boundary 8 (events
    # 0-7), then the final fire (fire_seq 0) at the watermark close.
    from proteus_engine_spark.streaming.triggers import ContinuousEventTimeTrigger

    a = [_ev(i, i, 1, "x", 1.0) for i in range(8)]
    b = [_ev(20 + i, 20 + i, 1, "x", 1.0) for i in range(3)]
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = triggered_window_agg(
        stream, "user_id", "ts", "value",
        trigger=ContinuousEventTimeTrigger(4 * 60_000),
        window_ms=10 * 60_000,
        watermark_delay="1 minute",
    )
    rows = sorted(
        (r["fire_seq"], r["n"], r["total_value"])
        for r in run_to_completion(out, "trig_cont", "append").collect()
        if pd.Timestamp(r["win_start"]) == pd.Timestamp("2024-01-01 00:00:00")
    )
    assert rows == [(0, 8, 8.0), (1, 5, 5.0), (2, 8, 8.0)]


def test_delta_evictor_keeps_near_last(spark):
    # CountTrigger(5)+purge with DeltaEvictor(threshold 2): values 10,11,1,
    # 12,11 → last is 11; |1-11|=10 evicted, the rest stay.
    from proteus_engine_spark.streaming.triggers import DeltaEvictor

    vals = [10.0, 11.0, 1.0, 12.0, 11.0]
    a = [_ev(i, i, 1, "x", vals[i]) for i in range(5)]
    b = [_ev(5, 7, 1, "x", 0.0)]  # advances the watermark past event 4
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = triggered_window_agg(
        stream, "user_id", "ts", "value",
        trigger=PurgingTrigger(CountTrigger(5)),
        evictor=DeltaEvictor(2.0),
        window_ms=None,
        watermark_delay="1 minute",
    )
    rows = run_to_completion(out, "trig_delta", "append").collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 4 and rows[0]["total_value"] == pytest.approx(44.0)


def test_event_time_trigger_matches_native_window_path(spark):
    """Differential check: the custom stateful path (EventTimeTrigger, no
    evictor) must agree with Spark's native windowed aggregation in append
    mode on the real events table — same closed windows, same counts, same
    exact-cents sums."""
    import os

    from pyspark.sql import functions as F

    from proteus_engine_spark.queries.exact import dsum
    from proteus_engine_spark.streaming.sources import events_stream, run_to_completion
    from proteus_engine_spark.streaming.windows import windowed_agg

    sf_dir = os.environ.get("PROTEUS_TEST_SF_DIR", "/root/testdata/sf0.001")
    trig = triggered_window_agg(
        events_stream(spark, sf_dir), "user_id", "ts", "value",
        trigger=EventTimeTrigger(), window_ms=3_600_000,
        watermark_delay="10 minutes",
    )
    got = sorted(
        (r["user_id"], pd.Timestamp(r["win_start"]), r["n"], round(r["total_value"], 6))
        for r in run_to_completion(trig, "trig_native_diff", "append").collect()
    )
    native = windowed_agg(
        events_stream(spark, sf_dir), "ts", "10 minutes", "1 hour", ["user_id"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
    )
    ref = sorted(
        (r["user_id"], pd.Timestamp(r["window_start"]), r["n"], round(r["total_value"], 6))
        for r in run_to_completion(native, "native_diff_sink", "append").collect()
    )
    assert got == ref and len(got) > 0
