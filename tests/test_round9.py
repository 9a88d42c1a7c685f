"""Round-9 tests: embedding long-form gate, gatecheck nested-column
guard, iterate convergence signalling, vectorized-UDF probe validation,
streaming times(n) group patterns, repetition-stats zero guards, and the
window-end late-row admission rule."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from proteus_engine_spark.streaming.sources import run_to_completion

from tests.test_streaming import EV_SCHEMA, _ev, _two_batch_stream


def _ev_m(i, minute, user, etype, value=1.0):
    """Like _ev but supports minute >= 60 (rolls into hours)."""
    from datetime import datetime, timedelta

    return (
        i,
        datetime(2024, 1, 1, 0, 0, 0) + timedelta(minutes=minute),
        user,
        etype,
        value,
    )


def _n_batch_stream(spark, batches, schema):
    """Write N parquet files and stream them one file per micro-batch."""
    d = tempfile.mkdtemp(prefix="proteus_stream9_")
    src_dir = f"{d}/src"
    os.makedirs(src_dir)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/b{i}")
        part = [f for f in os.listdir(f"{d}/b{i}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/b{i}/{part}", f"{src_dir}/{i:02d}.parquet")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


# ---------------- embedding long form ----------------


def test_embedding_long_matches_array_variant(spark):
    from proteus_engine_spark.datapipe.embeddings import (
        preprocess_embeddings,
        preprocess_embeddings_long,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 6.0]), (3, [5.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    wide = {
        r["vec_id"]: (r["vec"], r["norm"])
        for r in preprocess_embeddings(df).collect()
    }
    long_rows = preprocess_embeddings_long(df).collect()
    assert len(long_rows) == 6  # 3 vectors x 2 dims, all positions present
    for r in long_rows:
        vec, norm = wide[r["vec_id"]]
        assert r["component"] == pytest.approx(vec[r["pos"]])
        assert r["norm"] == pytest.approx(norm)


def test_embedding_long_zero_vector_null_components(spark):
    from proteus_engine_spark.datapipe.embeddings import preprocess_embeddings_long

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [3.0, 0.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    rows = preprocess_embeddings_long(df, center=False).collect()
    z = [r for r in rows if r["vec_id"] == 1]
    # zero vector still emits one row per position (NULL component, norm 0)
    assert len(z) == 3 and all(r["component"] is None and r["norm"] == 0.0 for r in z)
    nz = {r["pos"]: r["component"] for r in rows if r["vec_id"] == 2}
    assert nz[0] == pytest.approx(0.6) and nz[2] == pytest.approx(0.8)


def test_gatecheck_rejects_nested_columns(spark, tmp_path, monkeypatch):
    """The driver's pandas canonicalizer dies sorting LIST cells (r8 red)
    — the local gate must fail loudly on nested gate outputs so it can
    never show green where the driver shows red."""
    import scripts.gatecheck as gc
    from proteus_engine_spark.queries.registry import REGISTRY

    class _E:
        oracle = "SELECT 1 AS k, [1, 2] AS v"

        @staticmethod
        def fn(spark, sf_dir):
            return spark.range(1).select(
                F.lit(1).alias("k"), F.array(F.lit(1), F.lit(2)).alias("v")
            )

    monkeypatch.setattr(gc, "REPO", tmp_path)  # don't clobber the real json
    monkeypatch.setattr(gc.sys, "argv", ["gatecheck.py", "__nested_probe__"])
    monkeypatch.setitem(REGISTRY, "__nested_probe__", _E)
    with pytest.raises(SystemExit) as exc:
        gc.main()
    assert exc.value.code == 1
    import json

    res = json.loads((tmp_path / "gatecheck_local.json").read_text())
    assert "LIST/STRUCT" in res["__nested_probe__"]["err"]


# ---------------- iterate convergence signalling ----------------


def test_iterate_warns_unconverged(spark):
    from proteus_engine_spark.operators.iterations import iterate

    df = spark.createDataFrame([(0,)], "x long")
    step = lambda d, i: d.select((F.col("x") + 1).alias("x"))  # noqa: E731
    never = lambda a, b: False  # noqa: E731
    with pytest.warns(RuntimeWarning, match="without converging"):
        out = iterate(df, step, 3, never)
    assert out.collect()[0]["x"] == 3


def test_connected_components_raises_past_cap(spark):
    """A duplicate chain longer than the iteration cap must raise, not
    silently split into multiple clusters."""
    from proteus_engine_spark.operators.iterations import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="max_iterations"):
        connected_components(chain, max_iterations=2).collect()
    comp = connected_components(chain, max_iterations=20)
    assert all(r["component"] == 0 for r in comp.collect())


# ---------------- vectorized UDF probe ----------------


def test_scalar_udf_probe_rejects_scalar_eval():
    """A reference-ported scalar eval under the vectorized default would
    silently produce wrong values — to_udf() probes and raises."""
    from proteus_engine_spark.functions.udf import ScalarFunction

    class Upper(ScalarFunction):
        return_type = "string"

        def eval(self, x):
            return str(x).upper()  # scalar logic: returns str, not Series

    with pytest.raises(TypeError, match="not a batch"):
        Upper().to_udf()


def test_scalar_udf_probe_accepts_series_eval(spark):
    from proteus_engine_spark.functions.udf import ScalarFunction

    class Upper(ScalarFunction):
        return_type = "string"

        def eval(self, x):
            return x.str.upper()

    df = spark.createDataFrame([("ab",), ("cd",)], "s string")
    rows = df.select(Upper().to_udf()(F.col("s")).alias("u")).collect()
    assert sorted(r["u"] for r in rows) == ["AB", "CD"]


# ---------------- streaming times(n) groups ----------------


def test_group_stream_times_n_matches_batch(spark):
    """A times(2) group compiles to one state-counted pattern (r14) and
    runs on the stream path; the output schema must match the batch path
    exactly (base-named columns + _cnt)."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        Pattern,
        match_group_pattern,
        match_group_pattern_stream,
    )

    rows = [
        _ev(1, 1, 1, "a"), _ev(2, 2, 1, "b"),
        _ev(3, 3, 1, "a"), _ev(4, 4, 1, "b"),
        _ev(5, 30, 1, "c"),
    ]

    def g():
        sub = Pattern.begin(
            "x", lambda r: r["event_type"] == "a"
        ).next("y", lambda r: r["event_type"] == "b")
        return GroupPattern.begin(sub).times(2).consecutive()

    batch = match_group_pattern(
        spark.createDataFrame(rows, EV_SCHEMA), g(), "user_id"
    )
    stream_out = match_group_pattern_stream(
        _two_batch_stream(spark, rows[:3], rows[3:], EV_SCHEMA), g(), "user_id",
        watermark_delay="0 seconds",
    )
    got = run_to_completion(stream_out, "group_stream_times_test", "append")
    assert sorted(got.columns) == sorted(batch.columns)
    key = lambda r: (r["x_id"], r["y_id"], r["x_cnt"], r["y_cnt"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect())) == [
        (3, 4, 2, 2)
    ]


def test_group_stream_optional_matches_batch(spark):
    """r14: OPTIONAL groups stream too (pre-r14 the stream path rejected
    them as multi-variant). e NEXT (a NEXT b)? NEXT c over two users —
    user 1 takes the group, user 2 skips it — batch and stream emit the
    same rows, cnt 0 + NULL ids marking the skipped group."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        Pattern,
        match_group_pattern,
        match_group_pattern_stream,
    )

    rows = [
        _ev(1, 1, 1, "e"), _ev(2, 2, 1, "a"), _ev(3, 3, 1, "b"), _ev(4, 4, 1, "c"),
        _ev(5, 1, 2, "e"), _ev(6, 2, 2, "c"),
        _ev(7, 30, 1, "x"), _ev(8, 30, 2, "x"),
    ]

    def g():
        return (
            GroupPattern.begin(Pattern.begin("e", lambda r: r["event_type"] == "e"))
            .next(
                Pattern.begin("a", lambda r: r["event_type"] == "a")
                .next("b", lambda r: r["event_type"] == "b")
            ).optional()
            .next(Pattern.begin("c", lambda r: r["event_type"] == "c"))
        )

    batch = match_group_pattern(
        spark.createDataFrame(rows, EV_SCHEMA), g(), "user_id"
    )
    stream_out = match_group_pattern_stream(
        _two_batch_stream(spark, rows[:5], rows[5:], EV_SCHEMA), g(), "user_id",
        watermark_delay="0 seconds",
    )
    got = run_to_completion(stream_out, "group_stream_optional_test", "append")
    assert sorted(got.columns) == sorted(batch.columns)
    key = lambda r: (r["user_id"], r["a_id"], r["a_cnt"], r["c_id"])  # noqa: E731
    assert sorted(map(key, got.collect()), key=repr) \
        == sorted(map(key, batch.collect()), key=repr) \
        == [(1, 2, 1, 4), (2, None, 0, 6)]


def test_group_stream_times_out_of_order_matches_batch(spark):
    """r14 state-counted times(2) under OUT-OF-ORDER arrival: the second
    micro-batch delivers events with EARLIER timestamps than the first
    (within the watermark delay); the watermark buffer must re-sequence
    them before the NFA, so stream == batch on the time-ordered data."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        Pattern,
        match_group_pattern,
        match_group_pattern_stream,
    )

    # time order: a(1) b(2) a(3) b(4); arrival order: b(2) b(4) | a(1) a(3)
    rows_time_ordered = [
        _ev(1, 1, 1, "a"), _ev(2, 2, 1, "b"),
        _ev(3, 3, 1, "a"), _ev(4, 4, 1, "b"),
        _ev(5, 59, 1, "x"),  # watermark pusher
    ]
    first = [rows_time_ordered[1], rows_time_ordered[3]]
    second = [rows_time_ordered[0], rows_time_ordered[2], rows_time_ordered[4]]

    def g():
        sub = Pattern.begin(
            "x", lambda r: r["event_type"] == "a"
        ).next("y", lambda r: r["event_type"] == "b")
        return GroupPattern.begin(sub).times(2).consecutive()

    batch = match_group_pattern(
        spark.createDataFrame(rows_time_ordered, EV_SCHEMA), g(), "user_id"
    )
    stream_out = match_group_pattern_stream(
        _two_batch_stream(spark, first, second, EV_SCHEMA), g(), "user_id",
        watermark_delay="30 minutes",
    )
    got = run_to_completion(stream_out, "group_stream_times_ooo_test", "append")
    key = lambda r: (r["x_id"], r["y_id"], r["x_cnt"], r["y_cnt"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect())) == [
        (3, 4, 2, 2)
    ]


def test_group_stream_timeout_side_output_matches_batch(spark):
    """r14: the group timeout side output streams too (output='timeouts'
    threads through match_group_pattern_stream) — a stalled group partial
    whose within() expires under the advancing watermark emits the same
    row the batch path produces."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        Pattern,
        match_group_pattern,
        match_group_pattern_stream,
    )

    # user 1: one full (a,b) repeat then silence — the times(2) partial
    # stalls at the loop-back and expires; a far event advances the
    # watermark past the window edge.
    rows = [
        _ev(1, 1, 1, "a"), _ev(2, 2, 1, "b"),
        _ev(3, 50, 1, "z"),
    ]

    def g():
        sub = Pattern.begin(
            "x", lambda r: r["event_type"] == "a"
        ).followed_by("y", lambda r: r["event_type"] == "b")
        return GroupPattern.begin(sub).times(2).within(10 * 60 * 1000)

    batch = match_group_pattern(
        spark.createDataFrame(rows, EV_SCHEMA), g(), "user_id",
        output="timeouts",
    )
    stream_out = match_group_pattern_stream(
        _two_batch_stream(spark, rows[:2], rows[2:], EV_SCHEMA), g(), "user_id",
        watermark_delay="0 seconds", output="timeouts",
    )
    got = run_to_completion(stream_out, "group_stream_timeout_test", "append")
    assert sorted(got.columns) == sorted(batch.columns)
    key = lambda r: (r["x_id"], r["y_id"], r["x_cnt"], r["timeout_ts"])  # noqa: E731
    b = sorted(map(key, batch.collect()))
    s = sorted(map(key, got.collect()))
    assert b == s
    assert len(b) == 1 and b[0][0] == 1 and b[0][1] == 2 and b[0][2] == 1


# ---------------- repetition stats zero guards ----------------


def test_repetition_stats_empty_docs(spark):
    from proteus_engine_spark.datapipe.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    for d in (1, 2):
        r = rows[d]
        assert r["n_tokens"] == 0
        assert r["dup_token_frac"] == 0.0
        assert r["top_bigram_cov"] == 0.0 and r["dup_trigram_cov"] == 0.0
    r = rows[3]
    assert r["n_tokens"] == 4 and r["dup_token_frac"] == pytest.approx(0.5)
    # "a b" repeats twice covering 2*3=6 chars of 7
    assert r["top_bigram_cov"] == pytest.approx(6 / 7)


# ---------------- watermark boundary properties ----------------


_WINDOW_MS = 2000


def _replay_mode(mode):
    """(ms per unit of released t, _ingest_and_release keywords, admission
    rule) for each way the primitive's callers drive it."""
    from proteus_engine_spark.streaming.stateful import _cents
    from proteus_engine_spark.streaming.triggers import _window_on_time_mask

    at_or_above = lambda t, f: t >= f  # noqa: E731
    return {
        # OVER/sort operators: µs event time, no payload (event_time_sort)
        "us": (1000, {}, at_or_above),
        # CEP event-time mode: ms event time, the row dict as payload
        "ms_rows": (
            1, {"unit": "ms", "payload": lambda pdf: pdf.to_dict("records")},
            at_or_above,
        ),
        # triggers: ms event time, cents payload, window-end lateness
        "ms_window": (
            1,
            {
                "unit": "ms",
                "payload": lambda pdf: _cents(pdf, "value").tolist(),
                "on_time": lambda t, f: _window_on_time_mask(t, f, _WINDOW_MS),
            },
            lambda t, f: t - t % _WINDOW_MS + _WINDOW_MS > f,
        ),
    }[mode]


def _replay(batches, wms, mode="us"):
    """Drive _ingest_and_release through a multi-batch replay. Returns
    (flushes, admitted, below_frontier): per-flush released rows, the rows
    the frontier guard admitted (everything not below the frontier at its
    ingest batch, or in window mode everything whose window was still
    open), and the ids admitted although below the frontier."""
    import pandas as pd

    from proteus_engine_spark.streaming.stateful import _ingest_and_release

    _per_ms, kwargs, admit = _replay_mode(mode)
    st = {"buf": []}
    flushes, admitted, below_frontier = [], [], set()
    for wm, batch in list(zip(wms, batches)) + [(10**15, [])]:
        frontier_before = st.get("frontier", 0)
        admitted += [e for e in batch if admit(e[0], frontier_before)]
        below_frontier |= {
            i for t, i in batch if admit(t, frontier_before) and t < frontier_before
        }
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([t for t, _i in batch], unit="ms"),
                "event_id": [i for _t, i in batch],
                "value": [i / 100 for _t, i in batch],
            }
        )
        ready = _ingest_and_release(st, pdf, wm, "ts", "event_id", **kwargs)
        flushes.append(ready)
    assert not st["buf"], "final watermark must flush everything buffered"
    return flushes, admitted, below_frontier


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False


@pytest.mark.skipif(not HAS_HYPOTHESIS, reason="hypothesis not installed")
@settings(deadline=None, max_examples=120)
@given(data=st_.data())
def test_watermark_replay_invariants(data):
    """Randomized multi-batch replay over _ingest_and_release with ts
    ties exactly at the watermark and duplicate ts across batches, in each
    mode its callers use: µs without payload (OVER/sort), ms with the row
    dict as payload (CEP), ms with cents and the window-end lateness test
    (triggers). Invariants (the r8 strict-release fix):
      1. every flush is STRICTLY below its watermark (ms-floored) and
         (ts, id)-sorted;
      2. the global per-key release order is nondecreasing (ts, id) — in
         window mode, among the rows not admitted below the frontier;
      3. released rows == frontier-admitted rows (no loss, no dup), each
         with its own payload;
      4. the final watermark drains the buffer (asserted in _replay)."""
    mode = data.draw(st_.sampled_from(["us", "ms_rows", "ms_window"]))
    per_ms = _replay_mode(mode)[0]
    n_batches = data.draw(st_.integers(1, 5))
    # small ms domain on whole-second marks => ties at wm are frequent
    ts_domain = st_.integers(0, 8).map(lambda s: s * 1000)
    batches, wms = [], []
    wm, next_id = 0, 0
    for _ in range(n_batches):
        batch = []
        for t in data.draw(st_.lists(ts_domain, max_size=6)):
            batch.append((t, next_id))
            next_id += 1
        batches.append(batch)
        # watermarks are monotone; land on tie-prone marks half the time
        wm = max(wm, data.draw(st_.one_of(ts_domain, st_.integers(0, 9000))))
        wms.append(wm)
    flushes, admitted, below_frontier = _replay(batches, wms, mode)
    for fl, w in zip(flushes, wms + [10**15]):
        assert all(t // per_ms < w for t, _i, _c in fl), "release not strict"
        assert [e[:2] for e in fl] == sorted(e[:2] for e in fl), "flush not sorted"
    released = [e for fl in flushes for e in fl]
    keys = [(t, i) for t, i, _c in released]
    in_order = [k for k in keys if k[1] not in below_frontier]
    assert in_order == sorted(in_order), "global (ts, id) release order broken"
    assert sorted(keys) == sorted((t * per_ms, i) for t, i in admitted), (
        "released set != admitted set (loss or duplication)"
    )
    if mode == "ms_rows":
        assert all(p["event_id"] == i for _t, i, p in released), "row payload"
    elif mode == "ms_window":
        assert all(p == i for _t, i, p in released), "cents payload"


# ---------------- window-end late admission ----------------


def test_window_on_time_mask_judges_by_window_end():
    """Lateness is judged by WINDOW END, not raw ts: a row below the
    key's release frontier whose window has not yet closed is still
    admitted (WindowOperator semantics); only rows whose window already
    closed at the frontier are lost. GlobalWindows admit everything."""
    import numpy as np

    from proteus_engine_spark.streaming.triggers import _window_on_time_mask

    # frontier 150s, 60s tumbling windows: ts 10s -> window [0, 60) closed
    # (end 60 <= 150) -> dropped; ts 100s -> window [60, 120) closed ->
    # dropped; ts 130s -> window [120, 180) OPEN (end 180 > 150) ->
    # admitted even though 130 < 150; ts 200s on time.
    ts = np.array([10_000, 100_000, 130_000, 200_000])
    mask = _window_on_time_mask(ts, 150_000, 60_000)
    assert mask.tolist() == [False, False, True, True]
    # GlobalWindows never close: everything is admitted
    assert _window_on_time_mask(ts, 150_000, None).all()


def test_triggered_window_agg_end_to_end_counts(spark):
    """Integration sanity for the new admission rule on a replayed
    stream: the tumbling window fires once at closure with every
    watermark-admitted event counted."""
    from proteus_engine_spark.streaming.triggers import (
        EventTimeTrigger,
        triggered_window_agg,
    )

    batches = [
        [_ev_m(1, 10, 1, "x"), _ev_m(2, 20, 1, "x")],
        [_ev_m(3, 30, 1, "x"), _ev_m(5, 40, 1, "x")],
        [_ev_m(6, 70, 1, "x")],
        [_ev_m(7, 80, 1, "x")],
    ]
    out = triggered_window_agg(
        _n_batch_stream(spark, batches, EV_SCHEMA),
        "user_id", "ts", "value",
        trigger=EventTimeTrigger(),
        window_ms=3_600_000,
        watermark_delay="0 seconds",
    )
    rows = run_to_completion(out, "late_window_test", "append").collect()
    first = [r for r in rows if r["win_start"].minute == 0 and r["win_start"].hour == 0]
    assert len(first) == 1
    assert first[0]["n"] == 4 and first[0]["total_value"] == pytest.approx(4.0)
