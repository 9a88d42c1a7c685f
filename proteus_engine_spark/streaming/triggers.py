"""Window triggers and evictors (SURVEY §2.9 — previously a documented
non-goal, now implemented on the custom-stateful path).

Reference:
- Trigger.java (flink-streaming-java/.../windowing/triggers/Trigger.java:54)
  with EventTimeTrigger.java:36 (fire when the watermark passes the window
  end), CountTrigger.java:33 (fire every `maxCount` elements; the counter
  resets on fire but the window contents are kept), PurgingTrigger.java:33
  (wraps a trigger, turning FIRE into FIRE_AND_PURGE).
- Evictor.java (.../windowing/evictors/Evictor.java:48) with
  CountEvictor.java:32 (keep the last `maxCount` elements, evicting from
  the front) and TimeEvictor.java:35 (evict elements with
  ts <= max_ts_in_window - windowSize). Evictors run BEFORE the window
  function (evictBefore; doEvictAfter=false default) and the eviction is
  persistent — EvictingWindowOperator.java:239 rewrites the window state
  with the surviving elements.
- KeyedStream.countWindow(size) (KeyedStream.java:383) is
  GlobalWindows + PurgingTrigger(CountTrigger(size)) — that composition is
  expressible here and checked against `stateful.count_window_agg`.

Spark-first shape: Structured Streaming's native windowed aggregation owns
the default EventTimeTrigger path (streaming/windows.py — stays JVM-side);
this module exists ONLY for the compositions Spark cannot express — early
count fires and per-window element eviction — so it pays the same
justified Python-stateful cost as CEP. Events are watermark-buffered per
key by the policy every event-time Python-stateful operator shares
(stateful._watermark_buffered, which CEP's event-time mode runs too): a
row is released into its window only once the watermark has sequenced
it, so every trigger decision sees a gapless (ts, id)-ordered prefix and
the emitted fires are deterministic regardless of micro-batch boundaries. State per key =
pending buffer + open-window buffers; count-evicted windows stay bounded
(the evictor rewrite keeps at most `keep` elements live), and tumbling
windows are dropped at watermark — the same cleanup
WindowOperator.clearAllState does at window.maxTimestamp.

Time model: event time is quantized to MILLISECONDS on entry (reference
parity — Flink timestamps are epoch-ms longs), ties break on event_id, and
the release cut against the watermark is strict at ms precision; the
trigger-family registry oracles mirror this exactly (ORDER BY
epoch_ms(ts), event_id; epoch_ms(ts) < epoch_ms(max(ts)) - delay_ms).

Value model: sums are exact integer CENTS (np.rint(value*100) — nearest
cent, ties-to-even), mirrored by the oracles' CAST(value AS
DECIMAL(18,2)) aggregation. The two quantizers agree whenever values
carry <= 2 decimals (every driver corpus does — verified, zero sub-cent
rows); a corpus with sub-cent precision would diverge at exact half-cent
ties (DECIMAL rounds half away from zero) — quantize such inputs
upstream, or widen the DECIMAL scale and the cents factor together.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame


# --------------------------------------------------------------------------
# Trigger / Evictor surface (Trigger.java:54, Evictor.java:48)


class Trigger:
    """Base trigger: decides when a window's contents are emitted."""

    purging = False

    def fires_on_element(self, count_since_fire: int) -> bool:
        return False

    def fires_on_delta(self, win: dict, value: float) -> bool:
        """Value-dependent element fire (DeltaTrigger). Called with the
        window's per-window state dict (the trigger may keep its own keys
        there — it is pickled with the window) and the element's value in
        the operator's value units."""
        return False

    def fires_on_event_time(self) -> bool:
        return False


class EventTimeTrigger(Trigger):
    """EventTimeTrigger.java:36 — single FIRE when the watermark passes the
    window end; elements never fire early."""

    def fires_on_event_time(self) -> bool:
        return True


@dataclass(frozen=True)
class ContinuousEventTimeTrigger(Trigger):
    """ContinuousEventTimeTrigger.java:38 — fires repeatedly every
    `interval_ms` of EVENT time: the first element arms a timer at its
    aligned boundary + interval (:64-65), each firing re-arms + interval
    (:84-86), and the window end still produces the final fire (:76-77).
    A boundary fire sees the elements with ts <= boundary — the window's
    contents when event time reached it; the evictor is evaluated per
    fire on that subset (not persisted — persistent eviction composes
    with the single-fire triggers)."""

    interval_ms: int

    def fires_on_event_time(self) -> bool:
        return True


@dataclass(frozen=True)
class CountTrigger(Trigger):
    """CountTrigger.java:33 — FIRE every `max_count` elements added to the
    window; the element counter resets on fire, the window contents do not
    (compose with PurgingTrigger for countWindow semantics). onEventTime is
    CONTINUE: a count-triggered window is cleaned up at the watermark
    without a final fire."""

    max_count: int

    def fires_on_element(self, count_since_fire: int) -> bool:
        return count_since_fire >= self.max_count


@dataclass(frozen=True)
class DeltaTrigger(Trigger):
    """DeltaTrigger.java:44-89 — FIRE when
    ``delta(lastFiredElement, element) > threshold``. The FIRST element of
    a window becomes the baseline without firing (:61-64 — the state is
    null, store and CONTINUE); each subsequent element whose delta from
    the baseline exceeds the threshold fires and REPLACES the baseline
    (:66-70). ``delta`` defaults to absolute difference in the operator's
    value units (a DeltaFunction.java:37 instance in the reference — pass
    a callable for a custom metric; the default must stay the abs-diff the
    SQL oracles mirror). onEventTime is CONTINUE (:78): a delta-triggered
    tumbling window is cleaned up at the watermark without a final fire,
    same as CountTrigger; on GlobalWindows (the reference's
    TopSpeedWindowing shape) the per-key baseline lives for the stream.
    The baseline is per key AND window (ctx.getPartitionedState on the
    window namespace), which the per-window state dict gives for free."""

    threshold: float
    delta: object = None  # Callable[[float, float], float]

    def fires_on_delta(self, win: dict, value: float) -> bool:
        fn = self.delta or (lambda a, b: abs(a - b))
        if "delta_base" not in win:
            win["delta_base"] = value  # first element: baseline, CONTINUE
            return False
        if fn(win["delta_base"], value) > self.threshold:
            win["delta_base"] = value
            return True
        return False


@dataclass(frozen=True)
class PurgingTrigger(Trigger):
    """PurgingTrigger.java:33 — wraps another trigger and upgrades its FIRE
    to FIRE_AND_PURGE (window contents cleared after emission)."""

    inner: Trigger
    purging = True

    def fires_on_element(self, count_since_fire: int) -> bool:
        return self.inner.fires_on_element(count_since_fire)

    def fires_on_delta(self, win: dict, value: float) -> bool:
        return self.inner.fires_on_delta(win, value)

    def fires_on_event_time(self) -> bool:
        return self.inner.fires_on_event_time()


class Evictor:
    """Base evictor: prunes window elements before the window function.
    The surviving list replaces the window state (persistent eviction,
    EvictingWindowOperator.java:239)."""

    def evict(self, elems: list[tuple[int, int, int]]) -> list[tuple[int, int, int]]:
        return elems


@dataclass(frozen=True)
class CountEvictor(Evictor):
    """CountEvictor.java:32 — keep the last `keep` elements in buffer
    order (event-time order here), evicting from the front."""

    keep: int

    def evict(self, elems):
        return elems[-self.keep:] if len(elems) > self.keep else elems


@dataclass(frozen=True)
class TimeEvictor(Evictor):
    """TimeEvictor.java:35 — evict elements with
    ts <= max_ts_in_window - keep_ms."""

    keep_ms: int

    def evict(self, elems):
        if not elems:
            return elems
        cutoff = max(t for t, _i, _c in elems) - self.keep_ms
        return [e for e in elems if e[0] > cutoff]


@dataclass(frozen=True)
class DeltaEvictor(Evictor):
    """DeltaEvictor.java:72-78 — evict every element whose
    delta(value, LAST element's value) >= threshold. `delta` defaults to
    absolute difference (values in the operator's value units)."""

    threshold: float
    delta: object = None  # Callable[[float, float], float]

    def evict(self, elems):
        if not elems:
            return elems
        fn = self.delta or (lambda a, b: abs(a - b))
        last_v = elems[-1][2] / 100.0
        return [e for e in elems if fn(e[2] / 100.0, last_v) < self.threshold]


# --------------------------------------------------------------------------
# The evicting window operator


def _window_on_time_mask(ts_ms, frontier: int, window_ms: int | None):
    """Late-event admission rule, judged by WINDOW END: WindowOperator
    (and Spark-native aggregation) admit a late row while its window is
    still open — only rows whose window already closed at the key's last
    release frontier are lost. Filtering on raw ts would drop
    late-but-admitted contributions (stricter than either engine).
    GlobalWindows (window_ms None) never close, so nothing is ever too
    late there."""
    import numpy as np

    if window_ms is None:
        return np.ones(len(ts_ms), dtype=bool)
    win_end = ts_ms - (ts_ms % window_ms) + window_ms
    return win_end > frontier


def triggered_window_agg(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    trigger: Trigger,
    evictor: Evictor | None = None,
    window_ms: int | None = None,
    watermark_delay: str = "10 minutes",
    id_col: str = "event_id",
) -> DataFrame:
    """Windowed aggregation with an explicit trigger/evictor pair
    (WindowedStream.trigger/evictor — WindowedStream.java:119,131).

    `window_ms=None` is GlobalWindows (GlobalWindows.java:32): one
    never-ending window per key, only count triggers ever fire it.
    Otherwise tumbling event-time windows of `window_ms`.

    Emits (key, win_start, fire_seq, n, total_value) per fire: count fires
    carry fire_seq 1,2,… per window; the event-time fire carries fire_seq 0.
    Sums are exact integer cents (order-independent, oracle-safe).

    Determinism: arrivals are buffered per key and released into windows
    in (ts, id) order once the watermark passes them (the release rule is
    stated once, on stateful._ingest_and_release) — trigger fire points and
    eviction fronts are positions in that order, not in arrival order, so
    results are reproducible across replays and micro-batch splits (the
    reference gets the same from watermark-ordered processing in
    WindowOperator). Late-but-admitted rows (window still open at the
    key's frontier) are insorted at their (ts, id) position in the
    not-yet-fired buffer, so fire CONTENTS and evictor fronts stay
    order-stable; the ELEMENT-DRIVEN trigger decisions for such a row are
    still arrival-relative — the count trigger's since-last-fire counter
    increments when the row arrives (exactly CountTrigger's arrival-count
    semantics), and a delta trigger's baseline walk likewise sees the row
    at its release position, so its fire points AND subsequent baselines
    are micro-batch-dependent under late admission. That is the one
    residual split-dependence for late data (the reference's triggers are
    arrival-driven too); pair DeltaTrigger with an in-order source — or a
    watermark delay covering the disorder, as the gate does — when replay
    determinism of the fire points matters. A row whose window already
    closed at the key's frontier is dropped at ingest
    (`_window_on_time_mask`); the open tail past the final watermark
    never fires — append semantics, like the native-path
    stream_tumble_append."""
    if window_ms is None and trigger.fires_on_event_time():
        raise ValueError(
            "GlobalWindows never end: an event-time trigger would never fire "
            "(use an element-fired trigger — CountTrigger, as "
            "KeyedStream.countWindow does, or DeltaTrigger, as "
            "TopSpeedWindowing does)"
        )
    evictor = evictor or Evictor()
    from proteus_engine_spark.streaming.stateful import (
        _cents,
        _watermark_buffered,
        field_ddl,
    )

    out_schema = (
        f"{field_ddl(stream, key_col)}, win_start timestamp, fire_seq long, "
        "n long, total_value double"
    )

    def _fire(win: dict) -> tuple[int, float]:
        """Evict, aggregate, persist the eviction. Returns (n, sum)."""
        kept = evictor.evict(win["elems"])
        win["elems"] = [] if trigger.purging else kept
        return len(kept), sum(c for _t, _i, c in kept) / 100.0

    def process(key, ready, st, wm):
        out_rows: list[tuple] = []
        interval = getattr(trigger, "interval_ms", None)
        for t, i, c in ready:
            ws = 0 if window_ms is None else t - (t % window_ms)
            win = st["wins"].setdefault(ws, {"elems": [], "since": 0, "fires": 0})
            if interval is not None and "nf" not in win:
                win["nf"] = t - (t % interval) + interval  # :64-65 arming
            # insort, not append: a late-but-admitted row (window still
            # open at the frontier) lands at its (ts, id) position within
            # the not-yet-fired buffer, so evictor fronts and the CONTENTS
            # of subsequent fires stay (ts, id)-ordered regardless of
            # which micro-batch delivered the late row.
            bisect.insort(win["elems"], (t, i, c))
            win["since"] += 1
            # Both element hooks run unconditionally (no short-circuit):
            # fires_on_delta mutates its baseline state on every element,
            # so skipping it after a count fire would corrupt a composed
            # trigger's delta walk.
            delta_fire = trigger.fires_on_delta(win, c / 100.0)
            count_fire = trigger.fires_on_element(win["since"])
            if count_fire or delta_fire:
                win["since"] = 0
                win["fires"] += 1
                n, total = _fire(win)
                out_rows.append((key[0], ws, win["fires"], n, total))

        pending: list[int] = []
        if window_ms is not None:
            if interval is not None:
                # continuous boundary fires: each passed boundary emits the
                # window's contents as of that boundary, then re-arms
                for ws in sorted(st["wins"]):
                    win = st["wins"][ws]
                    while "nf" in win and win["nf"] <= wm and win["nf"] < ws + window_ms:
                        b = win["nf"]
                        kept = evictor.evict([e for e in win["elems"] if e[0] <= b])
                        if kept:
                            win["fires"] += 1
                            out_rows.append((
                                key[0], ws, win["fires"], len(kept),
                                sum(c for _t, _i, c in kept) / 100.0,
                            ))
                        win["nf"] = b + interval
            for ws in sorted(st["wins"]):
                if ws + window_ms <= wm:  # window closed by the watermark
                    win = st["wins"].pop(ws)
                    if trigger.fires_on_event_time() and win["elems"]:
                        n, total = _fire(win)
                        out_rows.append((key[0], ws, 0, n, total))
                    # count-trigger windows: cleanup without firing
                    # (CountTrigger.onEventTime == CONTINUE)
            # an open window closes when wm >= its end: wake at the end
            pending = [ws + window_ms for ws in st["wins"]]
        if not out_rows:
            return None, pending
        out = pd.DataFrame(
            out_rows,
            columns=[key_col, "win_start", "fire_seq", "n", "total_value"],
        )
        out["win_start"] = (
            pd.to_datetime(out["win_start"], unit="ms")
            if window_ms is not None
            else pd.NaT
        )
        return out, pending

    return _watermark_buffered(
        stream.select(key_col, ts_col, id_col, value_col),
        key_col, ts_col, id_col, watermark_delay, out_schema, {"wins": {}},
        process,
        payload=lambda pdf: _cents(pdf, value_col).tolist(),
        unit="ms",
        on_time=lambda t_ms, frontier: _window_on_time_mask(t_ms, frontier, window_ms),
    )
