"""Round-4 features: CEP quantifiers (times/oneOrMore/optional) and timeout
side output, streaming OVER aggregation, watermark-relative CEP pruning,
zero-arg table functions, portable dedup oracle modes (minhash exact
verify, simhash md5_60)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from proteus_engine_spark.streaming.cep import Pattern, _run_nfa, match_pattern, match_pattern_stream
from tests.test_streaming import EV_SCHEMA, _ev, _two_batch_stream


def _frame(events):
    """events: (event_id, ts_ms, event_type)"""
    return pd.DataFrame(
        {
            "event_id": [e[0] for e in events],
            "ts": pd.to_datetime([e[1] for e in events], unit="ms"),
            "event_type": [e[2] for e in events],
        }
    )


# ---------------- pure NFA quantifier semantics ----------------


def test_times_consecutive_runs():
    pat = Pattern.begin("c", lambda r: r["event_type"] == "click").times(3, consecutive=True)
    ev = _frame([(1, 0, "click"), (2, 1, "click"), (3, 2, "click"), (4, 3, "click"),
                 (5, 4, "buy"), (6, 5, "click")])
    m, _, _ = _run_nfa(ev, pat, "ts", "event_id")
    # runs 1-2-3 and 2-3-4; the buy at t=4 breaks contiguity
    assert sorted(x["c"][0] for x in m) == [3, 4]
    assert all(x["c"][2] == 3 for x in m)


def test_times_relaxed_skips_gaps():
    pat = Pattern.begin("c", lambda r: r["event_type"] == "click").times(3)
    ev = _frame([(1, 0, "click"), (2, 1, "click"), (3, 2, "buy"), (4, 3, "click")])
    m, _, _ = _run_nfa(ev, pat, "ts", "event_id")
    assert [x["c"][0] for x in m] == [4]  # 1,2,(skip buy),4


def test_one_or_more_emits_every_prefix():
    pat = (
        Pattern.begin("s", lambda r: r["event_type"] == "signup")
        .followed_by("p", lambda r: r["event_type"] == "purchase")
        .one_or_more()
        .within(10_000)
    )
    ev = _frame([(1, 0, "signup"), (2, 1000, "purchase"), (3, 2000, "purchase"),
                 (4, 20_000, "purchase")])  # last purchase outside window
    m, _, _ = _run_nfa(ev, pat, "ts", "event_id")
    assert sorted((x["s"][0], x["p"][0], x["p"][2]) for x in m) == [(1, 2, 1), (1, 3, 2)]


def test_optional_forks_both_branches():
    pat = (
        Pattern.begin("a", lambda r: r["event_type"] == "signup")
        .followed_by("b", lambda r: r["event_type"] == "click")
        .optional()
        .followed_by("c", lambda r: r["event_type"] == "purchase")
    )
    ev = _frame([(1, 0, "signup"), (2, 1, "click"), (3, 2, "purchase")])
    m, _, _ = _run_nfa(ev, pat, "ts", "event_id")
    got = sorted((x["a"][0], x.get("b", (0,))[0], x["c"][0]) for x in m)
    assert got == [(1, 0, 3), (1, 2, 3)]  # skipped branch + taken branch


def test_optional_trailing_step_completes_early():
    pat = (
        Pattern.begin("a", lambda r: r["event_type"] == "signup")
        .followed_by("b", lambda r: r["event_type"] == "click")
        .optional()
    )
    ev = _frame([(1, 0, "signup"), (2, 1, "click")])
    m, _, _ = _run_nfa(ev, pat, "ts", "event_id")
    got = sorted((x["a"][0], x.get("b", (0,))[0]) for x in m)
    assert got == [(1, 0), (1, 2)]


def test_nfa_timeout_records_expired_partials():
    pat = (
        Pattern.begin("s", lambda r: r["event_type"] == "signup")
        .followed_by("p", lambda r: r["event_type"] == "purchase")
        .within(5_000)
    )
    ev = _frame([(1, 0, "signup"), (2, 1000, "click"), (3, 9000, "click"),
                 (4, 10_000, "purchase")])
    m, open_, to = _run_nfa(ev, pat, "ts", "event_id")
    assert m == []
    assert [(p["events"]["s"][0], p["__timeout_ts__"]) for p in to] == [(1, 5000)]


def test_quantifier_validation():
    with pytest.raises(ValueError):
        Pattern.begin("a", lambda r: True).optional()
    with pytest.raises(ValueError):
        Pattern.begin("a", lambda r: True).next("b", lambda r: True).optional()
    with pytest.raises(ValueError):
        Pattern.begin("a", lambda r: True).times(0)


def test_consecutive_disables_prefilter():
    pat = (
        Pattern.begin("a", lambda r: True, expr="event_type = 'a'")
        .times(2, consecutive=True)
    )
    assert pat.prefilter_expr() is None
    pat2 = Pattern.begin("a", lambda r: True, expr="event_type = 'a'").times(2)
    assert pat2.prefilter_expr() == "(event_type = 'a')"


@given(
    seq=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2), st.integers(min_value=0, max_value=50)),
        max_size=30,
    ),
    within=st.integers(min_value=1, max_value=60),
)
@settings(max_examples=100, deadline=None)
def test_nfa_one_or_more_matches_brute_force(seq, within):
    """oneOrMore(last step) ≡ every prefix of the in-window B-chain after
    each A — checked against an independent brute-force enumeration."""
    seq = sorted(((t, ms) for t, ms in seq), key=lambda x: x[1])
    seq = [(t, ms + i) for i, (t, ms) in enumerate(seq)]
    pat = (
        Pattern.begin("a", lambda r: r["event_type"] == 0)
        .followed_by("b", lambda r: r["event_type"] == 1)
        .one_or_more()
        .within(within)
    )
    m, _, _ = _run_nfa(_frame([(i, ms, t) for i, (t, ms) in enumerate(seq)]), pat, "ts", "event_id")
    got = sorted((x["a"][0], x["b"][0], x["b"][2]) for x in m)
    expect = []
    for i, (ta, ms_a) in enumerate(seq):
        if ta != 0:
            continue
        cnt = 0
        for j in range(i + 1, len(seq)):
            tb, ms_b = seq[j]
            if ms_b - ms_a > within:
                break
            if tb == 1:
                cnt += 1
                expect.append((i, j, cnt))
    assert got == sorted(expect)


# ---------------- Spark-side round-4 behavior ----------------


def test_match_pattern_output_validation(spark):
    df = spark.createDataFrame([_ev(0, 1, 1, "signup")], EV_SCHEMA)
    pat = Pattern.begin("s", lambda r: r["event_type"] == "signup").followed_by(
        "p", lambda r: r["event_type"] == "purchase"
    )
    with pytest.raises(ValueError):
        match_pattern(df, pat, key_col="user_id", output="bogus")
    with pytest.raises(ValueError):
        match_pattern(df, pat, key_col="user_id", output="timeouts")  # no within()


def test_cep_stream_keeps_partials_under_watermark(spark):
    """Watermark-relative pruning: batch 0's max event time exceeds the
    window, but the WATERMARK does not — a late-but-valid completion in
    batch 1 must still match (batch-max pruning would have dropped it).
    The noise event at 40min advances the watermark past the purchase so
    the event-time timer releases it in the trailing no-data batch (the
    Flink harness's final-watermark flush equivalent)."""
    a = [_ev(0, 0, 1, "signup"), _ev(1, 25, 1, "click")]  # max=25min >> window
    # purchase is late (18 < 25) but above watermark 5min; noise@40 lifts
    # the post-batch watermark to 20min >= 18min so the buffer drains.
    b = [_ev(2, 18, 1, "purchase"), _ev(3, 40, 1, "noise")]
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .within(20 * 60 * 1000)
    )
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = match_pattern_stream(stream, pat, key_col="user_id", watermark_delay="20 minutes")
    q = out.writeStream.outputMode("append").format("memory").queryName("cep_wm_test").start()
    q.processAllAvailable()
    q.stop()
    rows = [(r["user_id"], r["signup_id"], r["purchase_id"])
            for r in spark.table("cep_wm_test").collect()]
    assert rows == [(1, 0, 2)]


def test_running_over_agg_spans_micro_batches(spark):
    from proteus_engine_spark.streaming.stateful import running_over_agg

    a = [_ev(0, 1, 1, "x", 1.11), _ev(1, 2, 1, "x", 2.22)]
    b = [_ev(2, 3, 1, "x", 3.33), _ev(3, 1, 2, "x", 10.0)]
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    # proc mode: arrival-order accumulation (user 2's event arrives in
    # batch 2 with an event time before batch 1's max — the event-time
    # path would drop it as late; what's under test here is accumulator
    # continuity across micro-batches, the ProcTimeUnboundedOver shape)
    out = running_over_agg(stream, "user_id", "ts", "value", time_mode="proc")
    q = out.writeStream.outputMode("append").format("memory").queryName("over_test").start()
    q.processAllAvailable()
    q.stop()
    rows = {r["event_id"]: r for r in spark.table("over_test").collect()}
    assert rows[0]["running_sum"] == pytest.approx(1.11)
    assert rows[1]["running_sum"] == pytest.approx(3.33)
    assert rows[2]["running_sum"] == pytest.approx(6.66)  # exact: integer cents
    assert rows[2]["running_cnt"] == 3
    assert rows[2]["running_avg"] == pytest.approx(2.22)
    assert rows[3]["running_cnt"] == 1


def test_zero_arg_table_function_emits_per_row(spark):
    from proteus_engine_spark.functions.udf import TableFunction, lateral_join

    class TwoRows(TableFunction):
        output_schema = "k long"

        def eval(self):
            yield (1,)
            yield (2,)

    df = spark.createDataFrame([(10,), (20,)], "x long")
    got = sorted((r["x"], r["k"]) for r in lateral_join(df, TwoRows()).collect())
    assert got == [(10, 1), (10, 2), (20, 1), (20, 2)]

    class Empty(TableFunction):
        output_schema = "k long"

        def eval(self):
            return []

    outer = sorted((r["x"], r["k"]) for r in lateral_join(df, Empty(), outer=True).collect())
    assert outer == [(10, None), (20, None)]
    assert lateral_join(df, Empty()).count() == 0


def test_minhash_verify_validation_and_exact_dups(spark):
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here now ok")],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_simhash_md5_60_matches_python_reference(spark):
    from proteus_engine_spark.datapipe.dedup import simhash_buckets

    texts = [(1, "the quick brown fox"), (2, "jumps over the lazy dog"), (3, "hello")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: (r["simhash"], r["bucket"])
           for r in simhash_buckets(docs, hash_fn="md5_60").collect()}

    def ref(text):
        sums = [0] * 60
        for tok in text.lower().split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for b in range(60):
                sums[b] += 1 if (h >> b) & 1 else -1
        fp = sum(1 << b for b in range(60) if sums[b] > 0)
        return fp, fp >> 44

    for doc_id, text in texts:
        assert got[doc_id] == ref(text), doc_id
