"""Custom stateful streaming operators on applyInPandasWithState.

Reference targets (SURVEY §2.9 / §7 step 6):
- count windows        — KeyedStream.countWindow (KeyedStream.java:383,393)
- ProcessFunction      — ProcessFunction.java:51 processElement/onTimer
  with keyed state (flink-core/.../api/common/state/*.java) and timers.
- event-time OVER and sort — RowTime*Over / RowTimeSortProcessFunction,
  and their processing-time twins (ProcTime*Over).

Every Python-stateful streaming operator in the package — the ones here,
triggers.triggered_window_agg, cep.match_pattern_stream and
late.late_data_split — is a `step` on one keyed runner, `_keyed_process`:
the package's only groupBy(key).applyInPandasWithState. Keyed state lives
in Spark's state store (checkpointed, scaled per key group, the
RocksDB-backend equivalent). The runner's rules, stated once:

- state is one pickled per-key dict (`blob binary`), a deep copy of the
  operator's `init_state` on a key's first call;
- the step sees the key's micro-batch as one frame (`_one_frame`), or None
  on a timed-out call (the onTimer of ProcessFunction.java:85);
- the step returns the dict to persist, or None to remove the key's state
  — never inferred from falsy values (a frontier, max or window id of 0
  is legitimate state);
- the step arms at most one timer: an event time, clamped to
  max(t, watermark + 1) because EventTimeTimeout rejects a timestamp at
  or below the watermark, or a processing-time duration.

This module is also the one home of the watermark-buffer policy
(`_ingest_and_release` + `_watermark_buffered`) that every event-time
Python-stateful operator runs: the OVER/sort family here,
triggers.triggered_window_agg and the event-time mode of
cep.match_pattern_stream. Within a micro-batch, rows are presented
sorted by (ts, tiebreak) before the transition function runs —
deterministic replay, the same guarantee the reference gets from
watermarked event-time order in its window operator.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from operator import itemgetter
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState


def field_ddl(df: DataFrame, col: str) -> str:
    """`name type` DDL for one column, taken from the frame's own schema —
    output/state schemas must not hard-code a key type the API doesn't
    actually constrain (a string or int key is as legal as a long one)."""
    return f"{col} {df.schema[col].dataType.simpleString()}"


def _one_frame(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """A key's micro-batch as one frame (None when it is empty). A key
    whose batch spans several Arrow chunks must be sorted GLOBALLY —
    per-chunk sorts with state carried across chunks would order rows by
    chunk arrival, and chunking is a serialization detail
    (arrow.maxRecordsPerBatch), not a semantic boundary."""
    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]


def _cents(pdf: pd.DataFrame, value_col: str):
    """Exact integer cents (nearest cent, ties-to-even), the value unit
    every Python-stateful aggregate sums in."""
    import numpy as np

    return np.rint(pdf[value_col].to_numpy(dtype="float64") * 100).astype("int64")


def _keyed_process(
    stream: DataFrame,
    key_cols: list[str],
    out_schema: str,
    step: Callable,
    timeout: str,
    init_state: dict,
) -> DataFrame:
    """The keyed runner under every Python-stateful operator (the rules are
    in the module header). `step(key, frame | None, st, wm, timed_out) ->
    (out | None, st | None, timer | None)`; `wm` is the watermark in ms
    under EventTimeTimeout (the only mode that requires one), else None.
    `timeout` is a GroupStateTimeout name."""
    import copy
    import pickle

    event_time = timeout == "EventTimeTimeout"

    def transition(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        timed_out = state.hasTimedOut
        st = (
            pickle.loads(state.get[0]) if state.exists
            else copy.deepcopy(init_state)
        )
        wm = state.getCurrentWatermarkMs() if event_time else None
        frame = None if timed_out else _one_frame(pdfs)
        out, st, timer = step(key, frame, st, wm, timed_out)
        if st is None:
            if state.exists:
                state.remove()
        else:
            state.update((pickle.dumps(st),))
            if timer is not None and event_time:
                state.setTimeoutTimestamp(max(timer, wm + 1))
            elif timer is not None:
                state.setTimeoutDuration(timer)
        if out is not None and len(out):
            yield out

    return stream.groupBy(*key_cols).applyInPandasWithState(
        transition, out_schema, "blob binary", "append", timeout
    )


def _ingest_and_release(
    st, pdf, wm, ts_col, id_col, payload=None, unit="us", on_time=None
):
    """The watermark-buffer policy's ingest-and-release step, shared by
    every event-time Python-stateful operator (the RowTime*Over /
    RowTimeSortProcessFunction MapState-by-timestamp discipline, and the
    keyed CEP operator's processWatermark):

    1. drop an arrival below the key's release frontier ``st["frontier"]``
       (``on_time(t_ms, frontier)`` decides; default ``t_ms >= frontier``).
       Spark's own late filter lags one micro-batch behind eviction, so
       such a row CAN still arrive — buffering it would emit it below
       already-released peers;
    2. buffer the rest as ``(t, id, payload)`` in ``st["buf"]`` and advance
       the frontier to the watermark;
    3. release the rows STRICTLY below the watermark, in (t, id) order —
       never sorted on the payload. Spark's late filter drops only rows
       strictly older than the watermark, so an arrival with ts exactly
       == wm is still admitted in a later batch; releasing at <= wm would
       flush its peers first and break the global (t, id) release order
       (and the "peers never straddle a flush" invariant the RANGE/peer
       aggregates rely on).

    Release order is therefore globally correct per key across batches:
    everything released had t below the then-watermark, and every
    admitted arrival is at or above it. ``unit`` is the event-time
    resolution of ``t``: "us" keeps full source precision (the OVER/sort
    oracles order on raw ts), "ms" quantizes on entry (the trigger and CEP
    oracles order on epoch_ms(ts)); the watermark comparisons floor to ms
    either way, because Spark's watermark is ms-floored. ``pdf`` is the
    key's micro-batch (None when there is none), ``wm`` the watermark in
    ms. ``payload(pdf)`` gives one value per admitted row (None when not
    given). Returns the released rows."""
    per_ms = 1000 if unit == "us" else 1
    frontier = st.get("frontier", 0)
    if pdf is not None:
        t = pdf[ts_col].values.astype(f"datetime64[{unit}]").astype("int64")
        t_ms = t // per_ms
        keep = on_time(t_ms, frontier) if on_time else t_ms >= frontier
        if not keep.all():
            pdf = pdf[keep]
            t = t[keep]
        values = payload(pdf) if payload else [None] * len(pdf)
        st["buf"].extend(zip(t.tolist(), pdf[id_col].tolist(), values))
    st["frontier"] = max(frontier, wm)
    ready, rest = [], []
    for e in st["buf"]:
        (ready if e[0] // per_ms < wm else rest).append(e)
    st["buf"] = rest
    ready.sort(key=itemgetter(0, 1))
    return ready


def _watermark_buffered(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    watermark_delay: str,
    out_schema: str,
    init_state: dict,
    process: Callable,
    payload: Callable | None = None,
    unit: str = "us",
    on_time: Callable | None = None,
) -> DataFrame:
    """Keyed watermark-buffered operator: the whole watermark-buffer policy
    around an operator's `process(key, ready, st, wm) -> (frame | None,
    pending)`, as one EventTimeTimeout step on `_keyed_process`. Each call
    ingests and releases through `_ingest_and_release` (which states the
    drop and strict-release rule; `payload`, `unit` and `on_time` are
    passed to it), hands the released rows to `process` — also with none
    released, so watermark-driven work (window closes, partial expiry)
    runs on no-data timer calls — then keeps the per-key dict `st` and
    arms the timer at the earliest pending obligation: a buffered row at
    t releases once wm > t, so it wakes at t + 1; `pending` adds the
    operator's own obligations, each strictly above wm. The key's state
    is dropped once the buffer is empty and every value the operator
    carries is back at its `init_state` value (the frontier is the
    policy's, not the operator's)."""
    per_ms = 1000 if unit == "us" else 1

    def step(key, pdf, st, wm, _timed_out):
        ready = _ingest_and_release(
            st, pdf, wm, ts_col, id_col, payload, unit, on_time
        )
        out, pending = process(key, ready, st, wm)
        if not st["buf"] and all(st[k] == v for k, v in init_state.items()):
            return out, None, None
        due = [t // per_ms + 1 for t, _i, _p in st["buf"]] + list(pending)
        return out, st, min(due) if due else None

    return _keyed_process(
        stream.withWatermark(ts_col, watermark_delay), [key_col], out_schema,
        step, "EventTimeTimeout", {"buf": [], **init_state},
    )


def count_window_agg(
    stream: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    window_size: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Tumbling count window per key: emit (key, win_id, n, total_value,
    first_id, last_id) every `window_size` rows.

    State = (next window id, rows-so-far buffer for the open window) — the
    buffer never exceeds window_size rows. Emission happens as soon as a
    window fills (mid-batch included), matching CountTrigger.of(size) FIRE
    semantics; the open remainder window stays in state awaiting more rows.
    """
    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{field_ddl(stream, key_col)}, win_id long, n long, "
        f"total_value double, first_id {id_type}, last_id {id_type}"
    )

    def step(key, pdf, st, _wm, _timed_out):
        import numpy as np

        if pdf is None:
            return None, st, None
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        vals = pdf[value_col].to_numpy(dtype="float64")
        n = len(pdf)
        buf_n = st["buf_n"]
        # Window id per row: batch-level cumcount offset by the carried
        # open-window fill — no per-row Python (the reference's
        # CountTrigger counts in JVM state; here it's one integer div).
        pos = buf_n + np.arange(n)
        win = st["win_id"] + pos // window_size
        starts = np.flatnonzero(np.r_[True, win[1:] != win[:-1]])
        sums = np.add.reduceat(vals, starts)
        counts = np.diff(np.r_[starts, n])
        wins = win[starts]
        firsts = ids[starts].copy()
        lasts = ids[np.r_[starts[1:] - 1, n - 1]]
        if buf_n > 0:  # merge the carried open window into its group
            sums[0] += st["buf_sum"]
            counts[0] += buf_n
            firsts[0] = st["buf_first"]
        closed = counts == window_size
        out = pd.DataFrame(
            {
                key_col: np.full(int(closed.sum()), key[0]),
                "win_id": wins[closed],
                "n": counts[closed],
                "total_value": sums[closed],
                "first_id": firsts[closed],
                "last_id": lasts[closed],
            }
        )
        if closed[-1]:
            st.update(win_id=int(wins[-1]) + 1, buf_n=0, buf_sum=0.0, buf_first=None)
        else:
            st.update(
                win_id=int(wins[-1]), buf_n=int(counts[-1]),
                buf_sum=float(sums[-1]), buf_first=firsts[-1],
            )
        return out, st, None

    return _keyed_process(
        stream, [key_col], out_schema, step, "NoTimeout",
        {"win_id": 0, "buf_n": 0, "buf_sum": 0.0, "buf_first": None},
    )


def event_time_sort(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str = "event_id",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Event-time sorted emission per key (DataStreamSort parity —
    flink-table/.../plan/nodes/datastream/DataStreamSort.scala:42 allows
    only ascending rowtime sort on streams; runtime
    RowTimeSortProcessFunction buffers rows per key until the watermark
    passes, then emits in event-time order).

    Spark shape: rows are watermark-buffered in keyed state (the
    RowTimeSortProcessFunction MapState) and released in (ts, id) order
    once the watermark passes them, each assigned a contiguous per-key
    sequence number — so seq IS the global per-key event-time rank, even
    under out-of-order arrival across micro-batches. Rows later than the
    final watermark stay buffered (append semantics). State is the
    in-flight rows inside the watermark delay plus a counter."""
    out_schema = (
        f"{field_ddl(stream, key_col)}, {field_ddl(stream, id_col)}, "
        f"{ts_col} timestamp, seq long"
    )

    def emit(key, ready, st):
        n = len(ready)
        out = pd.DataFrame(
            {
                key_col: key[0],
                id_col: [i for _t, i, _c in ready],
                ts_col: pd.to_datetime([t for t, _i, _c in ready], unit="us"),
                "seq": range(st["seq"] + 1, st["seq"] + n + 1),
            }
        )
        st["seq"] += n
        return out

    return _event_time_over(
        stream, key_col, ts_col, None, id_col, watermark_delay, out_schema,
        emit, init_state={"seq": 0},
    )


def running_over_agg(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str = "event_id",
    watermark_delay: str = "10 minutes",
    time_mode: str = "event",
    frame: str = "rows",
) -> DataFrame:
    """Streaming OVER aggregation: per-key running SUM/COUNT/AVG in
    event-time order, ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW —
    one output row per input row, emitted as the stream flows.
    ``frame="range"`` selects the peer-inclusive variant
    (RowTimeUnboundedRangeOver vs RowTimeUnboundedRowsOver — the
    reference ships BOTH, RowTimeUnboundedOver.scala subclasses): all
    rows sharing a timestamp report the aggregate over the whole peer
    group, the SQL default `RANGE UNBOUNDED PRECEDING` frame. Peers are
    always released in one watermark flush (equal ts), so the group is
    complete when computed; `frame="range"` requires event time mode.

    Reference: DataStreamOverAggregate.scala:45 routes unbounded
    processing/event-time OVER windows to RowTimeUnboundedOver.scala /
    ProcTimeUnboundedOver.scala — a keyed ProcessFunction holding the
    running accumulator in ValueState, emitting (row + aggregate) per
    element. Spark has no streaming Window-function support, so this is the
    same shape on applyInPandasWithState: state = (count, exact sum), one
    emitted row per event.

    Determinism: the running sum is accumulated in integer cents (exact),
    converted to double per row — addition-order independent, so the result
    hash-matches a batch SQL `SUM(CAST(value AS DECIMAL(18,2))) OVER
    (... ROWS UNBOUNDED PRECEDING)`. In the default ``time_mode="event"``
    rows are watermark-buffered and released in (ts, id) order — the
    RowTimeUnboundedOver discipline, correct under out-of-order arrival;
    rows later than the final watermark stay buffered (append semantics).
    ``time_mode="proc"`` (ProcTimeUnboundedOver.scala) accumulates in
    arrival order and emits immediately. State is O(1) per key plus, in
    event mode, the in-flight rows inside the watermark delay.
    """
    if time_mode not in ("event", "proc"):
        raise ValueError(f"unknown time_mode {time_mode!r}: 'event' or 'proc'")
    if frame not in ("rows", "range"):
        raise ValueError(f"unknown frame {frame!r}: 'rows' or 'range'")
    if frame == "range" and time_mode == "proc":
        raise ValueError(
            "frame='range' needs event time: processing-time peers are an "
            "arrival-order accident (the reference's ProcTime variants "
            "treat each element as its own peer group)"
        )
    out_schema = (
        f"{field_ddl(stream, key_col)}, {field_ddl(stream, id_col)}, "
        f"{ts_col} timestamp, running_sum double, running_cnt long, "
        "running_avg double"
    )

    def emit(key, ready, st):
        import numpy as np

        cents = np.asarray([c for _t, _i, c in ready], dtype="int64")
        if frame == "range":
            # peer-inclusive: every row of a ts group reports the group's
            # closing cumulative (carried state applies wholly — peers
            # never straddle a flush)
            ts_arr = np.asarray([t for t, _i, _c in ready], dtype="int64")
            hi = np.searchsorted(ts_arr, ts_arr, side="right")
            csum = np.cumsum(cents)
            run = st["sum"] + csum[hi - 1]
            counts = st["cnt"] + hi
            st["cnt"] = int(counts[-1])
            st["sum"] = int(st["sum"] + csum[-1])
        else:
            run = st["sum"] + np.cumsum(cents)
            counts = st["cnt"] + np.arange(1, len(cents) + 1)
            st["cnt"] = int(counts[-1])
            st["sum"] = int(run[-1])
        return pd.DataFrame(
            {
                key_col: key[0],
                id_col: [i for _t, i, _c in ready],
                ts_col: pd.to_datetime([t for t, _i, _c in ready], unit="us"),
                "running_sum": run / 100.0,
                "running_cnt": counts,
                "running_avg": (run / 100.0) / counts,
            }
        )

    if time_mode == "proc":
        return _proc_time_over(
            stream, key_col, ts_col, value_col, id_col, out_schema, emit,
            init_state={"cnt": 0, "sum": 0},
        )
    return _event_time_over(
        stream, key_col, ts_col, value_col, id_col, watermark_delay, out_schema,
        emit, init_state={"cnt": 0, "sum": 0},
    )


def bounded_over_agg(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n_rows: int,
    id_col: str = "event_id",
    watermark_delay: str = "10 minutes",
    time_mode: str = "event",
) -> DataFrame:
    """Streaming bounded OVER aggregation: per-key SUM/COUNT/AVG over
    ``ROWS BETWEEN (n_rows-1) PRECEDING AND CURRENT ROW`` in event-time
    order — one output row per input row once the watermark passes it.
    ``time_mode="proc"`` selects the processing-time variant
    (ProcTimeBoundedRowsOver.scala): arrival-order windows, immediate
    emission, no watermark — see _proc_time_over.

    Reference: DataStreamOverAggregate.scala:250-276 routes bounded
    ROWS-preceding OVER windows to RowTimeBoundedRowsOver.scala — a keyed
    ProcessFunction that buffers rows in MapState keyed by timestamp and
    only processes a timestamp once the watermark passes it (onTimer),
    retracting the row that falls out of the window. Same discipline here:
    arrivals are watermark-buffered in keyed state and released in (ts, id)
    order (the rule is stated once, on `_ingest_and_release`) — so
    event-time order (and hence window contents) is correct under
    OUT-OF-ORDER arrival across micro-batches, not just on in-order replay.
    Released rows' last ``n_rows - 1`` values carry forward as the window
    tail (exact integer cents).

    State is O(n_rows + in-flight rows inside the watermark delay) per
    key — the same bound the reference's MapState-by-timestamp carries.
    Rows later than the final watermark stay buffered (append semantics;
    oracles exclude the watermark-delay tail).
    """
    if n_rows < 1:
        raise ValueError("n_rows must be >= 1")
    if time_mode not in ("event", "proc"):
        raise ValueError(f"unknown time_mode {time_mode!r}: 'event' or 'proc'")
    out_schema = (
        f"{field_ddl(stream, key_col)}, {field_ddl(stream, id_col)}, "
        f"{ts_col} timestamp, w_sum double, w_cnt long, w_avg double"
    )

    def emit(key, ready, st):
        import numpy as np

        cents = np.asarray([c for _t, _i, c in ready], dtype="int64")
        carried = np.asarray(st["tail"], dtype="int64")
        allc = np.concatenate([carried, cents])
        csum = np.concatenate([[0], np.cumsum(allc)])
        gi = len(carried) + np.arange(len(cents))
        start = np.maximum(0, gi - n_rows + 1)
        wsum = (csum[gi + 1] - csum[start]) / 100.0
        wcnt = gi + 1 - start
        st["tail"] = allc[len(allc) - min(len(allc), n_rows - 1):].tolist()
        return pd.DataFrame(
            {
                key_col: key[0],
                id_col: [i for _t, i, _c in ready],
                ts_col: pd.to_datetime([t for t, _i, _c in ready], unit="us"),
                "w_sum": wsum,
                "w_cnt": wcnt,
                "w_avg": wsum / wcnt,
            }
        )

    if time_mode == "proc":
        return _proc_time_over(
            stream, key_col, ts_col, value_col, id_col, out_schema, emit,
            init_state={"tail": []},
        )
    return _event_time_over(
        stream, key_col, ts_col, value_col, id_col, watermark_delay, out_schema,
        emit, init_state={"tail": []},
    )


def _proc_time_over(
    stream, key_col, ts_col, value_col, id_col, out_schema, emit, init_state
):
    """Processing-time OVER harness (ProcTimeBoundedRowsOver.scala /
    ProcTimeBoundedRangeOver.scala / ProcTimeUnboundedOver.scala): rows
    are processed in ARRIVAL order — no watermark, no buffering, every
    row emits in the micro-batch it arrives in. Within a micro-batch
    arrival order is refined to (ts, id) for deterministic replay (the
    reference's per-element processing has no intra-batch notion). The
    carried state (window tail / accumulator) is whatever `emit`
    maintains in the shared state dict."""

    def step(key, pdf, st, _wm, _timed_out):
        if pdf is None:
            return None, st, None
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        ts_us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
        rows = list(zip(
            ts_us.tolist(), pdf[id_col].tolist(), _cents(pdf, value_col).tolist()
        ))
        return emit(key, rows, st), st, None

    return _keyed_process(
        stream.select(key_col, id_col, ts_col, value_col), [key_col],
        out_schema, step, "NoTimeout", init_state,
    )


def _event_time_over(
    stream, key_col, ts_col, value_col, id_col, watermark_delay, out_schema,
    emit, init_state,
):
    """Event-time OVER / sort harness (RowTime*Over.scala,
    RowTimeSortProcessFunction) — the mirror of _proc_time_over on the
    watermark buffer (`_watermark_buffered`): µs event time, each row's
    value in cents as its payload, and every flush's released rows handed
    to `emit` in (ts, id) order. `emit` and the carried values in
    `init_state` are the same in both modes."""
    cols = [key_col, id_col, ts_col] + ([value_col] if value_col else [])
    return _watermark_buffered(
        stream.select(*cols), key_col, ts_col, id_col, watermark_delay,
        out_schema, init_state,
        lambda key, ready, st, _wm: (emit(key, ready, st) if ready else None, ()),
        payload=(lambda pdf: _cents(pdf, value_col).tolist()) if value_col else None,
    )


def bounded_range_over_agg(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    range_ms: int,
    id_col: str = "event_id",
    watermark_delay: str = "10 minutes",
    time_mode: str = "event",
) -> DataFrame:
    """Streaming bounded RANGE OVER aggregation: per-key SUM/COUNT/AVG over
    ``RANGE BETWEEN INTERVAL range_ms PRECEDING AND CURRENT ROW`` in
    event-time order — one output row per input row once the watermark
    passes it. ``time_mode="proc"`` is the ProcTimeBoundedRangeOver.scala
    variant: arrival-order processing, immediate emission, frames over the
    ts column which — as with the reference's processing time — is assumed
    per-key non-decreasing across batches.

    Reference: RowTimeBoundedRangeOver.scala (dispatched from
    DataStreamOverAggregate.scala:250-276) — the last remaining streaming
    OVER shape: a keyed ProcessFunction that buffers rows by timestamp,
    processes each timestamp at the watermark, and retracts rows whose
    timestamp falls more than `range_ms` behind. SQL RANGE semantics: the
    frame of a row at time t is ALL rows with ts in [t - range_ms, t]
    inclusive — peers at the same ts share one frame that includes all of
    them (they are always released in the same watermark flush, so the
    frame is complete when computed).

    Same watermark-buffer discipline as bounded_over_agg; the retained
    window state is rows with ts >= frontier - range_ms (every future
    admitted row has ts >= the key's release frontier, so nothing older
    can re-enter a frame) — the exact cleanup bound of the reference's
    retraction loop. Vectorized via one
    cumsum + two searchsorted calls per flush, no per-row Python loop.
    """
    if range_ms < 0:
        raise ValueError("range_ms must be >= 0")
    if time_mode not in ("event", "proc"):
        raise ValueError(f"unknown time_mode {time_mode!r}: 'event' or 'proc'")
    out_schema = (
        f"{field_ddl(stream, key_col)}, {field_ddl(stream, id_col)}, "
        f"{ts_col} timestamp, w_sum double, w_cnt long, w_avg double"
    )

    range_us = range_ms * 1000

    def emit(key, ready, st):
        # Microsecond event time throughout (frame membership [t-range, t]
        # must be judged at full source precision to match the batch RANGE
        # oracle). Carried window rows are already ts-sorted; released
        # rows all have ts above every carried ts (watermark monotonicity;
        # the proc contract assumes the same), so concatenation preserves
        # sort order. Retention floor: in event mode the key's release
        # frontier (every future admitted row is at or above it), in proc
        # mode the last processed ts.
        import numpy as np

        car_ts = np.asarray([t for t, _c in st["win"]], dtype="int64")
        car_c = np.asarray([c for _t, c in st["win"]], dtype="int64")
        rdy_ts = np.asarray([t for t, _i, _c in ready], dtype="int64")
        rdy_c = np.asarray([c for _t, _i, c in ready], dtype="int64")
        all_ts = np.concatenate([car_ts, rdy_ts])
        all_c = np.concatenate([car_c, rdy_c])
        csum = np.concatenate([[0], np.cumsum(all_c)])
        lo = np.searchsorted(all_ts, rdy_ts - range_us, side="left")
        hi = np.searchsorted(all_ts, rdy_ts, side="right")
        wsum = (csum[hi] - csum[lo]) / 100.0
        wcnt = hi - lo
        floor = (
            st["frontier"] * 1000 if "frontier" in st else int(rdy_ts[-1])
        ) - range_us
        # Keep ts >= floor (side="left"): release is strictly below the
        # watermark, so a future row can sit exactly AT the watermark and
        # its frame [wm - range, wm] still needs history at exactly
        # wm - range; dropping ts == floor would shave that frame edge.
        keep = np.searchsorted(all_ts, floor, side="left")
        st["win"] = list(zip(all_ts[keep:].tolist(), all_c[keep:].tolist()))
        return pd.DataFrame(
            {
                key_col: key[0],
                id_col: [i for _t, i, _c in ready],
                ts_col: pd.to_datetime(rdy_ts, unit="us"),
                "w_sum": wsum,
                "w_cnt": wcnt,
                "w_avg": wsum / wcnt,
            }
        )

    if time_mode == "proc":
        return _proc_time_over(
            stream, key_col, ts_col, value_col, id_col, out_schema, emit,
            init_state={"win": []},
        )
    return _event_time_over(
        stream, key_col, ts_col, value_col, id_col, watermark_delay, out_schema,
        emit, init_state={"win": []},
    )


def process_keyed(
    stream: DataFrame,
    key_cols: list[str],
    func: Callable[[tuple, pd.DataFrame, dict[str, Any]], tuple[pd.DataFrame, dict[str, Any]]],
    out_schema: str,
    timeout: str = "NoTimeout",
    timeout_duration_ms: int | None = None,
    on_timeout: Callable[[tuple, dict[str, Any]], pd.DataFrame | None] | None = None,
    event_time_col: str | None = None,
) -> DataFrame:
    """ProcessFunction shim (ProcessFunction.java:51): user code sees
    (key, batch, mutable state dict) and returns (emitted rows, new state);
    `on_timeout` is the onTimer equivalent (:85), fired by the state store
    when the key is idle past `timeout_duration_ms` — measured in processing
    time for ProcessingTimeTimeout, or in event time past the watermark for
    EventTimeTimeout (requires `event_time_col` and a watermarked input;
    the timer is re-armed each batch at max(batch event time) + duration,
    i.e. an event-time idle-gap timer, the session-gap shape of
    ProcessFunction.java:85 onTimer).

    The state dict is the runner's pickled per-key dict (module header:
    `_keyed_process`) — arbitrary Python state, the
    ValueState/ListState/MapState union. Keep it compact: it is shipped
    through the state store every batch. A timed-out key's state is
    removed after `on_timeout` runs.
    """
    if timeout not in ("NoTimeout", "ProcessingTimeTimeout", "EventTimeTimeout"):
        raise ValueError(f"unknown timeout {timeout!r}")
    if timeout == "EventTimeTimeout" and (event_time_col is None or timeout_duration_ms is None):
        raise ValueError(
            "EventTimeTimeout requires event_time_col and timeout_duration_ms "
            "(and a withWatermark() on the input stream)"
        )

    def step(key, batch, st, _wm, timed_out):
        if timed_out:
            return on_timeout(key, st) if on_timeout else None, None, None
        emitted, new_state = func(
            key, batch if batch is not None else pd.DataFrame(), st
        )
        timer = None
        if timeout == "ProcessingTimeTimeout":
            timer = timeout_duration_ms
        elif timeout == "EventTimeTimeout" and batch is not None:
            # The runner clamps this above the CURRENT watermark: Spark
            # admits rows against the PREVIOUS batch's watermark, so an
            # all-laggard batch can put max_ts + duration at or below it;
            # clamped, the idle timer fires on the next watermark advance,
            # which is when the key is provably idle.
            timer = int(
                batch[event_time_col].to_numpy().astype("datetime64[ms]")
                .astype("int64").max()
            ) + timeout_duration_ms
        return emitted, new_state, timer

    return _keyed_process(stream, key_cols, out_schema, step, timeout, {})


def windowed_heavy_hitters(
    stream: DataFrame,
    item_col: str,
    ts_col: str = "ts",
    window_ms: int = 3_600_000,
    k: int = 64,
    shards: int = 4,
) -> DataFrame:
    """Per-window Misra-Gries heavy hitters ON THE STREAM — the streaming
    member of the heavy-hitter arc (bounds/grouped/merge are batch-gated),
    the same composed-sketch family as stream_window_quantile_bounds /
    stream_window_approx_distinct, but with the sketch state hand-held in
    keyed state because Spark has no built-in MG aggregate (the
    ProcessFunction-with-timers shape, ProcessFunction.java:51,85 — keyed
    state plus an event-time timer at window end).

    Keying is (window, shard-of-item): each shard holds an INDEPENDENT
    k-counter summary over ITS hash-disjoint token subset, so per-window
    parallelism is `shards` tasks instead of one, and the per-token bound
    only tightens — a token lives in exactly one shard, whose total
    N_shard <= N_w, so undercount <= N_shard/(k+1) <= N_w/(k+1) and every
    item above the window threshold is present in its shard. Summaries
    from different shards never share items, so concatenating them IS the
    merged window summary (the disjoint-universe case of the Agarwal
    merge the agg_heavy_hitters_merge gate certifies). State per key is
    <= 2k counters; a window's keys emit and clear when the watermark
    passes the window end (event-time timeout), so live state is bounded
    by the windows inside the watermark horizon, never the stream length.

    Emits (window_id long, item string, est long) on window close; the
    final windows inside the watermark tail never close (append
    semantics), matching the batch-oracle cut of every stream_* gate.
    Requires a withWatermark() on `ts_col` upstream."""
    import numpy as np
    from pyspark.sql import functions as F

    if k < 1 or shards < 1:
        raise ValueError("k and shards must be >= 1")
    out_schema = "window_id long, item string, est long"

    def step(key, pdf, st, _wm, timed_out):
        w = int(key[0])
        counters = st["c"]
        if timed_out:
            return pd.DataFrame(
                {
                    "window_id": np.full(len(counters), w, dtype="int64"),
                    "item": list(counters.keys()),
                    "est": np.fromiter(
                        counters.values(), dtype="int64", count=len(counters)
                    ),
                }
            ), None, None
        if pdf is not None:
            # one Misra-Gries decrement per micro-batch: the total
            # decrement is still spread over > k counters, so the
            # N_shard/(k+1) undercount bound holds
            for item, c in pdf["item"].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                st["c"] = {i: c - cut for i, c in counters.items() if c - cut > 0}
        # window-end timer (data for this window implies window_end > wm;
        # the runner's clamp covers the ms-floor edge)
        return None, st, (w + 1) * window_ms

    keyed = stream.select(
        F.expr(f"unix_millis({ts_col}) div {int(window_ms)}")
        .alias("window_id"),
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(shards)).alias("shard"),
        F.col(item_col).cast("string").alias("item"),
        F.col(ts_col),
    )
    return _keyed_process(
        keyed, ["window_id", "shard"], out_schema, step, "EventTimeTimeout",
        {"c": {}},
    )
