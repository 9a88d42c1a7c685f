"""Round-15 regression tests.

1. The r14-advice medium fix (streaming/cep.py): the followedByAny
   non-consuming fork must gate only the FIRST repeat of a quantified
   group — a loop-back (gloop) partial is BETWEEN repeats and follows
   the group's between-repeat rule (relaxed consume-first), not the
   attach contiguity. Skip-till-any between repeats needs
   allowCombinations, per the reference (Pattern.java:316's
   followedByAny vs the allowCombinations quantifier flag).
"""

from __future__ import annotations

from datetime import datetime

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proteus_engine_spark.streaming.cep import GroupPattern, Pattern, _scan

from tests.conftest import cep_scan


def _fba_group(n):
    """e followedByAny (x NEXT y) times(n). Alphabet: 0='e', 1='x', 2='y'."""
    return (
        GroupPattern.begin(Pattern.begin("e", lambda r: r["et"] == 0))
        .followed_by_any(
            Pattern.begin("x", lambda r: r["et"] == 1).next(
                "y", lambda r: r["et"] == 2
            )
        )
        .times(n)
    )


def test_followed_by_any_times_advice_repro():
    """r14-advice repro: e followedByAny (x NEXT y) times(2) over
    e,x,y,x,y,x,y must emit exactly 2 matches — one per skip-till-any
    ENTRY anchor whose chain reaches depth 2 (x1y2→x3y4 and x5y6 has no
    second repeat, x3y4→x5y6). Before the fix the between-repeat
    loop-back also forked, duplicating the x5y6-ending match."""
    seq = [0, 1, 2, 1, 2, 1, 2]
    got = sorted(
        (m["e"][0], m["x"][0], m["y"][0], m["__gcnt__1"])
        for m in cep_scan(_fba_group(2), seq)
    )
    assert got == [(0, 3, 4, 2), (0, 5, 6, 2)]


def _fba_chains(types, e_idx):
    """Brute-force model: skip-till-any entry anchors a chain at EVERY
    (x,y) pair after the 'e'; between repeats the chain is relaxed
    consume-first (the next repeat is the first x-anchored pair after
    the previous repeat's y — an unpaired x kills the chain because the
    inner 'y' step is strict)."""
    pairs = {
        i: i + 1
        for i in range(len(types) - 1)
        if types[i] == 1 and types[i + 1] == 2
    }
    chains = []
    for s in pairs:
        if s <= e_idx:
            continue
        chain = [(s, pairs[s])]
        while True:
            last_y = chain[-1][1]
            nxt = next(
                (t for t in range(last_y + 1, len(types)) if types[t] == 1), None
            )
            if nxt is None or nxt not in pairs:
                break
            chain.append((nxt, pairs[nxt]))
        chains.append(chain)
    return chains


@given(
    seq=st.lists(st.integers(min_value=0, max_value=3), max_size=20),
    n=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=200, deadline=None)
def test_followed_by_any_times_matches_brute_force(seq, n):
    """followedByAny attach × times(n): one match per (e, entry-anchor)
    pair whose chain reaches depth >= n — entry is skip-till-any, the
    repeats themselves chain consume-first."""
    got = sorted(
        (m["e"][0], m["x"][0], m["y"][0], m["__gcnt__1"])
        for m in cep_scan(_fba_group(n), seq)
    )
    exp = sorted(
        (e_idx, chain[n - 1][0], chain[n - 1][1], n)
        for e_idx, t in enumerate(seq)
        if t == 0
        for chain in _fba_chains(seq, e_idx)
        if len(chain) >= n
    )
    assert got == exp


# ---------------- r15 new operators ----------------


def test_quantile_sketch_bounds_verdict(spark):
    """0..9999 uniform: every requested quantile's estimate must sit
    within the analytic rank window; target ranks are round(q*n)."""
    from proteus_engine_spark.datapipe.sketches import quantile_sketch_bounds

    df = spark.range(10000).select(F.col("id").cast("double").alias("v"))
    rows = {r["q_pct"]: r for r in quantile_sketch_bounds(df, "v").collect()}
    assert set(rows) == {10, 25, 50, 75, 90, 99}
    for q_pct, r in rows.items():
        assert r["n"] == 10000
        assert r["target_rank"] == round(q_pct / 100 * 10000)
        assert r["within_bounds"] is True


def test_quantile_sketch_bounds_null_and_skew(spark):
    """NULLs are excluded from n; a heavily tied column still verifies
    (the rank window [count(<), count(<=)] absorbs ties)."""
    from proteus_engine_spark.datapipe.sketches import quantile_sketch_bounds

    vals = [(float(i % 3),) for i in range(999)] + [(None,)] * 100
    df = spark.createDataFrame(vals, "v double")
    rows = quantile_sketch_bounds(df, "v", accuracy=100).collect()
    assert all(r["n"] == 999 for r in rows)
    assert all(r["within_bounds"] for r in rows)


def test_nb_margin_calibration_partitions_eval(spark):
    from proteus_engine_spark.datapipe.classify import (
        nb_margin_calibration,
        nb_token_model,
    )

    docs = spark.createDataFrame(
        [
            (i, ("alpha beta " * (1 + i % 3)) if i % 2 == 0 else "gamma delta",
             "web" if i % 2 == 0 else "books")
            for i in range(40)
        ],
        "doc_id long, text string, source string",
    )
    train = docs.filter(F.col("doc_id") % 10 < 8)
    ev = docs.filter(F.col("doc_id") % 10 >= 8)
    priors, lik = nb_token_model(train, class_col="source")
    out = nb_margin_calibration(ev, priors, lik, n_bins=4).collect()
    assert sum(r["n_docs"] for r in out) == ev.count()
    for r in out:
        assert 0 <= r["n_correct"] <= r["n_docs"]
        assert r["acc_pct"] == (100 * r["n_correct"]) // r["n_docs"]
        assert r["avg_margin_micro"] >= 0
    # a perfectly separable vocabulary should classify perfectly
    assert sum(r["n_correct"] for r in out) == ev.count()


def test_chained_window_sessions_split_and_merge(spark):
    """One user active in hours 0 and 1 (merge: consecutive buckets),
    silent hour 2, active hour 3 (split); a far event closes everything.
    Sessions anchor at bucket_end - 1us."""
    from proteus_engine_spark.streaming.windows import chained_window_sessions
    from tests.test_streaming import EV_SCHEMA, _two_batch_stream

    def at(i, h, m, user=1):
        return (i, datetime(2024, 1, 1, h, m, 0), user, "click", 1.0)

    first = [at(1, 0, 10), at(2, 0, 50), at(3, 1, 20), at(4, 3, 5)]
    second = [at(9, 12, 0)]  # watermark mover
    out = chained_window_sessions(
        _two_batch_stream(spark, first, second, EV_SCHEMA),
        "user_id", "ts",
        watermark="0 seconds", bucket="1 hour", gap="90 minutes",
        bucket_aggs=[F.count(F.lit(1)).alias("n")],
        session_aggs=[
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_buckets"),
        ],
    ).select(
        "user_id",
        (F.unix_millis("session_start") + 1).alias("s_ms"),
        (F.unix_millis("session_end") + 1).alias("e_ms"),
        "n_events", "n_buckets",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("r15_chained_sessions")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["s_ms"], r["e_ms"], r["n_events"], r["n_buckets"])
        for r in spark.table("r15_chained_sessions").collect()
        if r["user_id"] == 1
    )
    base = int(datetime(2024, 1, 1).timestamp() * 1000)
    h, gap = 3_600_000, 5_400_000
    assert got == [
        (base + h, base + 2 * h + gap, 3, 2),      # hours 0-1 merged
        (base + 4 * h, base + 4 * h + gap, 1, 1),  # hour 3 alone
    ]


# ---------------- GroupPattern.allow_combinations ----------------

from tests.test_cep_group_props import SEQ, _sub  # noqa: E402


def _pairs(types):
    """(a at i, b at i+1) anchored pairs for alphabet 0='a', 1='b'."""
    return [
        (i, i + 1)
        for i in range(len(types) - 1)
        if types[i] == 0 and types[i + 1] == 1
    ]


def test_group_allow_combinations_times2_brute_force_example():
    """(a NEXT b) times(2) allow_combinations over a,b,a,b,a,b: every
    ordered pair of non-overlapping (a,b) pairs matches — 3 of them —
    where the default skip-till-next chaining yields only 2."""
    seq = [0, 1, 0, 1, 0, 1]
    g = GroupPattern.begin(_sub()).times(2)
    assert len(cep_scan(g, seq)) == 2
    gc = GroupPattern.begin(_sub()).times(2).allow_combinations()
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"]) for m in cep_scan(gc, seq)
    )
    assert got == [(2, 3, 2), (4, 5, 2), (4, 5, 2)]


@given(seq=SEQ)
@settings(max_examples=200, deadline=None)
def test_group_allow_combinations_times2_matches_brute_force(seq):
    """times(2) + allow_combinations: one match per ORDERED pair of
    pairs (p1, p2) with p2 starting after p1 ends (skip-till-any between
    repeats); the row reports the LAST repeat's events, so the expected
    multiset is {p2 : for each p1 before it}."""
    gc = GroupPattern.begin(_sub()).times(2).allow_combinations()
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"]) for m in cep_scan(gc, seq)
    )
    pairs = _pairs(seq)
    exp = sorted(
        (p2[0], p2[1], 2)
        for p1 in pairs
        for p2 in pairs
        if p2[0] > p1[1]
    )
    assert got == exp


def test_group_allow_combinations_validation():
    import pytest

    with pytest.raises(ValueError, match="contradictory"):
        GroupPattern.begin(_sub()).times(2).consecutive().allow_combinations()
    with pytest.raises(ValueError, match="contradictory"):
        GroupPattern.begin(_sub()).times(2).allow_combinations().consecutive()
    with pytest.raises(ValueError, match="quantified"):
        GroupPattern.begin(_sub()).allow_combinations().compile()


def test_quantile_sketch_bounds_empty_input(spark):
    """All-NULL (effectively empty) input degrades to zero rows, not an
    error — percentile_approx returns a NULL array and the rank pass has
    nothing to count."""
    from proteus_engine_spark.datapipe.sketches import quantile_sketch_bounds

    df = spark.createDataFrame([(None,), (None,)], "v double")
    assert quantile_sketch_bounds(df, "v").count() == 0


# ---------------- times(from, to) range quantifier ----------------

from tests.test_cep_group_props import _chains  # noqa: E402


def _run_pat(pat, types):
    rows = [{"et": t, "id": i} for i, t in enumerate(types)]
    matches, _, _ = _scan(rows, [i * 1000 for i in range(len(types))], pat, "id")
    return matches


@given(
    seq=st.lists(st.integers(min_value=0, max_value=1), max_size=20),
    f=st.integers(min_value=1, max_value=3),
    extra=st.integers(min_value=0, max_value=2),
)
@settings(max_examples=200, deadline=None)
def test_step_times_range_matches_brute_force(seq, f, extra):
    """Pattern.times(from, to): per 'a' anchor, one match per count c in
    [from, to] reachable by the consume-first relaxed chain — the last
    consumed event is the (anchor + c - 1)-th 'a', cnt = c."""
    t = f + extra
    pat = Pattern.begin("a", lambda r: r["et"] == 0).times(f, to=t)
    got = sorted((m["a"][0], m["a"][2]) for m in _run_pat(pat, seq))
    idxs = [i for i, x in enumerate(seq) if x == 0]
    exp = sorted(
        (idxs[k + c - 1], c)
        for k in range(len(idxs))
        for c in range(f, min(t, len(idxs) - k) + 1)
    )
    assert got == exp


def test_step_times_range_exact_degenerates():
    """times(n, n) == times(n)."""
    seq = [0, 1, 0, 0, 1, 0]
    exact = Pattern.begin("a", lambda r: r["et"] == 0).times(2)
    rng = Pattern.begin("a", lambda r: r["et"] == 0).times(2, to=2)
    ge = sorted(m["a"][0] for m in _run_pat(exact, seq))
    gr = sorted((m["a"][0], m["a"][2]) for m in _run_pat(rng, seq))
    assert ge == [g[0] for g in gr] and all(c == 2 for _, c in gr)


@given(
    seq=SEQ,
    f=st.integers(min_value=1, max_value=3),
    extra=st.integers(min_value=0, max_value=2),
)
@settings(max_examples=200, deadline=None)
def test_group_times_range_matches_brute_force(seq, f, extra):
    """GroupPattern.times(from, to): per anchored chain, one match per
    depth d in [from, min(to, chain length)] with the d-th repeat's
    events and count d — per-prefix exits above the floor, capped loop."""
    t = f + extra
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(GroupPattern.begin(_sub()).times(f, to=t), seq)
    )
    exp = sorted(
        (chain[d - 1][0], chain[d - 1][1], d)
        for _s, chain in _chains(seq)
        for d in range(f, min(len(chain), t) + 1)
    )
    assert got == exp


def test_times_range_validation():
    import pytest

    with pytest.raises(ValueError, match="to >= n"):
        Pattern.begin("a", lambda r: True).times(3, to=2)
    with pytest.raises(ValueError, match="to >= n"):
        GroupPattern.begin(_sub()).times(3, to=2)
