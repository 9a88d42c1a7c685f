"""Round-17 additions: ADVICE closures (tail-inner-loop property coverage,
phash-oracle ASCII pinning) and the GroupPattern INNER allowCombinations
lift (Pattern.java:347 composes with any loop step; GroupPattern.java:30's
recursive compilation imposes no inner-step restriction) — the last
documented CEP inner-step delta. Property suites compare the state-counted
NFA against independent brute-force chain models directly on the pure
_scan core, the tests/test_round16.py discipline."""

from __future__ import annotations

from itertools import combinations as _it_combinations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from proteus_engine_spark.streaming.cep import GroupPattern, Pattern

from tests.conftest import cep_scan

# alphabet: 0 = 'a', 1 = 'b', 2 = noise. Combinations tests keep sequences
# short: branch count is exponential in the number of loop events for BOTH
# the NFA and the brute model (inherent to skip-till-any, the reference
# carries the same warning).
SEQ = st.lists(st.integers(min_value=0, max_value=2), max_size=18)
SEQ_SHORT = st.lists(st.integers(min_value=0, max_value=2), max_size=10)


def _a_positions(types, start):
    return [j for j in range(start, len(types)) if types[j] == 0]


def _first_b_after(types, pos):
    return next((k for k in range(pos + 1, len(types)) if types[k] == 1), None)


# ---------------------------------------------------------------------------
# ADVICE r16 item 2: counting quantifier on the quantified group's LAST
# inner step — exit_step runs the inner-loop exit AND the group
# loop-back/exit on the same step. Brute model: sub = a followedBy b{q};
# the b-loop consumes the first successive b's after a (relaxed repeats
# skip non-b events); a group loop-back starts at the first 'a' strictly
# after the exit event.
# ---------------------------------------------------------------------------


def _tail_sub(iq):
    p = Pattern.begin("a", lambda r: r["et"] == 0).followed_by(
        "b", lambda r: r["et"] == 1
    )
    kind = iq[0]
    if kind == "times":
        p = p.times(iq[1])
    elif kind == "oom":
        p = p.one_or_more()
    return p


def _brute_tail(types, iq, floor, cap):
    """All (a, b_last, b_icnt, depth) tuples for (a -> b{iq}).times/oom."""
    out = []

    def inner_counts(n_run):
        if iq[0] == "times":
            k = iq[1]
            return range(k, k + 1) if n_run >= k else range(0)
        return range(1, n_run + 1)  # one_or_more: a match per prefix

    def rec(start, depth, anchored):
        a_idxs = _a_positions(types, start)
        starts = range(len(a_idxs)) if anchored else [0]
        for s in starts:
            if s >= len(a_idxs):
                continue
            a = a_idxs[s]
            bs = [k for k in range(a + 1, len(types)) if types[k] == 1]
            for c in inner_counts(len(bs)):
                b_last = bs[c - 1]
                d = depth + 1
                if floor is None or d >= floor:
                    out.append((a, b_last, c, d))
                if cap is None or d < cap:
                    rec(b_last + 1, d, False)

    rec(0, 0, True)
    return sorted(out)


def _got_tail(gp, types):
    return sorted(
        (m["a"][0], m["b"][0], m["b"][2], m["__gcnt__0"])
        for m in cep_scan(gp, types)
    )


@given(seq=SEQ, k=st.integers(min_value=1, max_value=3),
       n=st.integers(min_value=1, max_value=3))
@settings(max_examples=150, deadline=None)
def test_tail_inner_times_group_times(seq, k, n):
    """(a followedBy b.times(k)).times(n): the shared loop-wiring step —
    inner exit and group loop-back ride the same exit_step call."""
    gp = GroupPattern.begin(_tail_sub(("times", k))).times(n)
    assert _got_tail(gp, seq) == _brute_tail(seq, ("times", k), n, n)


@given(seq=st.lists(st.integers(min_value=0, max_value=2), max_size=12),
       n=st.integers(min_value=1, max_value=2))
@settings(max_examples=150, deadline=None)
def test_tail_inner_one_or_more_group_times(seq, n):
    """(a followedBy b.one_or_more()).times(n): branching inner exits on
    the loop-wiring step, each closing a group repeat."""
    gp = GroupPattern.begin(_tail_sub(("oom",))).times(n)
    assert _got_tail(gp, seq) == _brute_tail(seq, ("oom",), n, n)


@given(seq=st.lists(st.integers(min_value=0, max_value=2), max_size=12),
       cap=st.integers(min_value=1, max_value=2))
@settings(max_examples=150, deadline=None)
def test_tail_inner_one_or_more_group_one_or_more(seq, cap):
    """(a followedBy b+).one_or_more(max_repeats=cap): per-prefix exits on
    BOTH loops simultaneously."""
    gp = GroupPattern.begin(_tail_sub(("oom",))).one_or_more(max_repeats=cap)
    assert _got_tail(gp, seq) == _brute_tail(seq, ("oom",), None, cap)


# ---------------------------------------------------------------------------
# r16 verdict item 2: allowCombinations on INNER loops — skip-till-any
# BETWEEN repeats of a step-level loop nested inside a quantified group.
# Brute model: the loop's first event is pinned (entry contiguity for the
# anchor repeat, skip-till-next for loop-back repeats); every LATER
# matching event is independently taken or skipped, so the per-repeat
# consumption is {first} ∪ S for every subset S of later loop events.
# Each distinct subset is a distinct NFA branch (multiset parity).
# ---------------------------------------------------------------------------


def _comb_interior_sub():
    return (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .one_or_more()
        .allow_combinations()
        .followed_by("b", lambda r: r["et"] == 1)
    )


def _brute_comb_interior(types, floor, cap):
    """(a+ combinations -> b){group}: (a_last, icnt, b, depth) multiset."""
    out = []

    def rec(start, depth, anchored):
        a_idxs = _a_positions(types, start)
        starts = range(len(a_idxs)) if anchored else ([0] if a_idxs else [])
        for s in starts:
            a0 = a_idxs[s]
            rest = a_idxs[s + 1:]
            for r in range(len(rest) + 1):
                for mid in _it_combinations(rest, r):
                    chosen = (a0,) + mid
                    b = _first_b_after(types, chosen[-1])
                    if b is None:
                        continue
                    d = depth + 1
                    if floor is None or d >= floor:
                        out.append((chosen[-1], len(chosen), b, d))
                    if cap is None or d < cap:
                        rec(b + 1, d, False)

    rec(0, 0, True)
    return sorted(out)


def _got_interior(gp, types):
    return sorted(
        (m["a"][0], m["a"][2], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(gp, types)
    )


@given(seq=SEQ_SHORT, n=st.integers(min_value=1, max_value=2))
@settings(max_examples=120, deadline=None)
def test_inner_combinations_interior_group_times(seq, n):
    """(a.one_or_more().allow_combinations() -> b).times(n): subset
    consumption inside each repeat, exact group count."""
    gp = GroupPattern.begin(_comb_interior_sub()).times(n)
    assert _got_interior(gp, seq) == _brute_comb_interior(seq, n, n)


@given(seq=SEQ_SHORT, cap=st.integers(min_value=1, max_value=2))
@settings(max_examples=120, deadline=None)
def test_inner_combinations_interior_group_one_or_more(seq, cap):
    """(a+ combinations -> b).one_or_more(max_repeats=cap): per-prefix
    group exits over subset-consuming repeats."""
    gp = GroupPattern.begin(_comb_interior_sub()).one_or_more(max_repeats=cap)
    assert _got_interior(gp, seq) == _brute_comb_interior(seq, None, cap)


def _comb_tail_sub():
    return (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .followed_by("b", lambda r: r["et"] == 1)
        .one_or_more()
        .allow_combinations()
    )


def _brute_comb_tail(types, floor, cap):
    """(a -> b+ combinations){group}: (a, b_last, icnt, depth) multiset.
    The combinations loop sits ON the loop-wiring step: every subset exit
    closes a group repeat."""
    out = []

    def rec(start, depth, anchored):
        a_idxs = _a_positions(types, start)
        starts = range(len(a_idxs)) if anchored else ([0] if a_idxs else [])
        for s in starts:
            a = a_idxs[s]
            bs = [k for k in range(a + 1, len(types)) if types[k] == 1]
            if not bs:
                continue
            b0, rest = bs[0], bs[1:]
            for r in range(len(rest) + 1):
                for mid in _it_combinations(rest, r):
                    chosen = (b0,) + mid
                    d = depth + 1
                    if floor is None or d >= floor:
                        out.append((a, chosen[-1], len(chosen), d))
                    if cap is None or d < cap:
                        rec(chosen[-1] + 1, d, False)

    rec(0, 0, True)
    return sorted(out)


@given(seq=SEQ_SHORT, n=st.integers(min_value=1, max_value=2))
@settings(max_examples=120, deadline=None)
def test_inner_combinations_tail_group_times(seq, n):
    """(a -> b.one_or_more().allow_combinations()).times(n): combinations
    on the group-tail step — the un-extended twin must stay inside the
    CURRENT repeat (no group-count bump) while subset exits close repeats
    through exit_step."""
    gp = GroupPattern.begin(_comb_tail_sub()).times(n)
    got = sorted(
        (m["a"][0], m["b"][0], m["b"][2], m["__gcnt__0"])
        for m in cep_scan(gp, types=seq)
    )
    assert got == _brute_comb_tail(seq, n, n)


def test_inner_combinations_exact_values():
    """Pinned example: seq a a b a b — (a+ comb -> b).times(2).
    Repeat-1 subsets from anchor a0: {a0}->b2, {a0,a1}->b2, {a0,a3}->b4
    (skips b2? no — b = first b after a3 = b4), {a0,a1,a3}->b4; anchor a1:
    {a1}->b2, {a1,a3}->b4; anchor a3: {a3}->b4. Chains reaching a second
    repeat need an 'a' after their b: after b2 comes a3 -> {a3}->b4 only.
    So depth-2 matches all end (a3, 1, b4, 2), one per repeat-1 chain
    ending at b2: anchors/subsets {a0},{a0,a1},{a1} = 3 rows."""
    gp = GroupPattern.begin(_comb_interior_sub()).times(2)
    got = _got_interior(gp, [0, 0, 1, 0, 1])
    assert got == [(3, 1, 4, 2)] * 3
    assert got == _brute_comb_interior([0, 0, 1, 0, 1], 2, 2)


# ---------------------------------------------------------------------------
# r17: optional() on the quantified group's TAIL step — the remaining
# quantified-tail restriction after the allowCombinations lift (greedy
# stays rejected per FLINK-8914; trailing negation stays rejected, as the
# reference rejects a trailing notFollowedBy, NFACompiler.java:128).
# The skip twin forked on entering the tail routes through exit_step, so
# a group repeat may end right after its penultimate step. Brute model:
# each repeat consumes an 'a' (anchored: every 'a'; loop-back: the first
# 'a' after the previous repeat's end), then either SKIPS b (repeat ends
# at the 'a') or takes the FIRST 'b' after it (repeat ends at that 'b').
# Projected columns are the LAST repeat's events (loop-backs clear the
# optional entry).
# ---------------------------------------------------------------------------


def _opt_tail_sub():
    return (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .followed_by("b", lambda r: r["et"] == 1)
        .optional()
    )


def _brute_opt_tail(types, floor, cap):
    """All (a, b_or_None, depth) tuples for (a -> b?).times/one_or_more."""
    out = []

    def rec(start, depth, anchored):
        a_idxs = _a_positions(types, start)
        starts = range(len(a_idxs)) if anchored else ([0] if a_idxs else [])
        for s in starts:
            a = a_idxs[s]
            d = depth + 1
            variants = [(None, a)]
            b = _first_b_after(types, a)
            if b is not None:
                variants.append((b, b))
            for bb, end in variants:
                if floor is None or d >= floor:
                    out.append((a, bb, d))
                if cap is None or d < cap:
                    rec(end + 1, d, False)

    rec(0, 0, True)
    return sorted(out, key=repr)


def _got_opt_tail(gp, types):
    res = []
    for m in cep_scan(gp, types):
        b = m.get("b")
        res.append((m["a"][0], b[0] if b else None, m["__gcnt__0"]))
    return sorted(res, key=repr)


@given(seq=SEQ, n=st.integers(min_value=1, max_value=3))
@settings(max_examples=150, deadline=None)
def test_tail_optional_group_times(seq, n):
    """(a -> b.optional()).times(n): fork-on-entry skip twins close group
    repeats through exit_step."""
    gp = GroupPattern.begin(_opt_tail_sub()).times(n)
    assert _got_opt_tail(gp, seq) == _brute_opt_tail(seq, n, n)


@given(seq=st.lists(st.integers(min_value=0, max_value=2), max_size=12),
       cap=st.integers(min_value=1, max_value=3))
@settings(max_examples=150, deadline=None)
def test_tail_optional_group_one_or_more(seq, cap):
    """(a -> b.optional()).one_or_more(max_repeats=cap): per-prefix group
    exits where each repeat independently takes or skips its tail."""
    gp = GroupPattern.begin(_opt_tail_sub()).one_or_more(max_repeats=cap)
    assert _got_opt_tail(gp, seq) == _brute_opt_tail(seq, None, cap)


def test_tail_optional_exact_values():
    """Pinned example: seq a b a — (a -> b?).times(2). Anchor a0 skip
    (end a0) → repeat 2 at a2, which can only skip → (2, None, 2); anchor
    a0 take b1 (end b1) → repeat 2 at a2, skip → (2, None, 2). Anchor a2
    never reaches depth 2. Two identical projected rows from distinct
    histories — duplicate multiset parity, and the loop-back must have
    cleared repeat 1's b entry (NULL b, not b1)."""
    gp = GroupPattern.begin(_opt_tail_sub()).times(2)
    got = _got_opt_tail(gp, [0, 1, 0])
    assert got == [(2, None, 2)] * 2
    assert got == _brute_opt_tail([0, 1, 0], 2, 2)


def test_tail_optional_after_counting_step():
    """The tail-optional fork composes with a COUNTING interior step:
    (a.times(2) -> b?).times(2) over a a b a a — inner pairs (a0,a1) and
    (a3,a4), b2 taken or skipped in repeat 1, repeat 2 must skip (no b
    after a4). Both histories land (a4, icnt 2, None, 2)."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0).times(2)
        .followed_by("b", lambda r: r["et"] == 1).optional()
    )
    gp = GroupPattern.begin(sub).times(2)
    got = sorted(
        (m["a"][0], m["a"][2], (m.get("b") or (None,))[0], m["__gcnt__0"])
        for m in cep_scan(gp, [0, 0, 1, 0, 0])
    )
    assert got == [(4, 2, None, 2)] * 2


# ---------------------------------------------------------------------------
# r16 verdict item 3: perceptual_hash vectorization — the batch-level
# numpy path must produce byte-identical fingerprints to a row-at-a-time
# model (the pre-r17 implementation's semantics).
# ---------------------------------------------------------------------------


def _dhash_row(payload: bytes, bits: int = 60, w: int = 4) -> int:
    """Row-at-a-time dHash reference (the pre-vectorization semantics)."""
    win = (bits + 1) * w
    buf = list(bytes(payload or b"")[:win]) + [0] * win
    sums = [sum(buf[i * w:(i + 1) * w]) for i in range(bits + 1)]
    h = 0
    for i in range(bits):
        if sums[i] > sums[i + 1]:
            h |= 1 << i
    return h


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=300), min_size=0, max_size=20
    )
)
@settings(max_examples=100, deadline=None)
def test_phash_batch_vs_row_parity(payloads):
    """The vectorized batch path (pad → frombuffer → reshape/sum/matmul)
    equals the per-row model for every payload length: empty, shorter
    than the 244-byte window (zero-padded), and longer (truncated)."""
    import pandas as pd

    from proteus_engine_spark.datapipe import multimodal as mm

    # drive the inner generator directly — no Spark needed for parity
    df_like = pd.DataFrame(
        {"media_id": range(len(payloads)), "payload": payloads}
    )
    fn = None

    class _Probe:
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType([StructField("media_id", LongType())])

        def mapInPandas(self, f, schema):
            nonlocal fn
            fn = f
            return None

    mm.perceptual_hash(_Probe())  # captures hash_batches via the probe
    [out] = list(fn(iter([df_like])))
    got = dict(zip(out["media_id"], (int(h) for h in out["phash"])))
    exp = {i: _dhash_row(p) for i, p in enumerate(payloads)}
    assert got == exp


# ---------------------------------------------------------------------------
# r17 sketch lifts: grouped Misra-Gries (independent per-group counters)
# and the explicit two-summary merge (the agg_heavy_hitters_merge gate's
# core claim, unit-pinned on a deterministic skewed stream).
# ---------------------------------------------------------------------------


def test_misra_gries_grouped_independent_bounds(spark):
    """k=2 per group over two groups with DIFFERENT skew: each group's
    estimates obey ITS OWN N_g/(k+1) bound (groups never share
    counters), and a group's items never leak into another group."""
    from proteus_engine_spark.datapipe.sketches import misra_gries_grouped

    g1 = [("g1", x) for x in ["a"] * 40 + ["b"] * 25 + ["c"] * 3 + ["d"] * 2]
    g2 = [("g2", x) for x in ["p"] * 9 + ["q"] * 1]
    df = spark.createDataFrame(g1 + g2, "src string, item string").coalesce(1)
    rows = misra_gries_grouped(df, "item", "src", k=2).collect()
    exact = {"g1": {"a": 40, "b": 25, "c": 3, "d": 2}, "g2": {"p": 9, "q": 1}}
    totals = {g: sum(d.values()) for g, d in exact.items()}
    got = {}
    for r in rows:
        got.setdefault(r.src, {})[r.item] = r.est
        assert r.item in exact[r.src]  # no cross-group leakage
    for g, d in got.items():
        bound = totals[g] / 3  # N_g/(k+1)
        for item, est in d.items():
            assert est <= exact[g][item]
            assert exact[g][item] - est <= bound
        for item, c in exact[g].items():
            if c > bound:
                assert item in d


def test_misra_gries_two_summary_merge_bound(spark):
    """Two disjoint halves sketched separately at k=2, merged by item-
    keyed summation: merged est <= exact, undercount <= N_l/(k+1) +
    N_r/(k+1), every item above that threshold present — the
    agg_heavy_hitters_merge gate's bound, pinned on a stream where BOTH
    halves decrement (5 distinct items each, k=2)."""
    from proteus_engine_spark.datapipe.sketches import misra_gries_heavy_hitters

    left = ["a"] * 40 + ["b"] * 20 + ["c"] * 3 + ["d"] * 2 + ["e"] * 2
    right = ["a"] * 10 + ["b"] * 30 + ["f"] * 3 + ["g"] * 2 + ["c"] * 2
    exact = {}
    for x in left + right:
        exact[x] = exact.get(x, 0) + 1
    dfl = spark.createDataFrame([(x,) for x in left], "item string").coalesce(1)
    dfr = spark.createDataFrame([(x,) for x in right], "item string").coalesce(1)
    skl = {r.item: r.est for r in misra_gries_heavy_hitters(dfl, "item", k=2).collect()}
    skr = {r.item: r.est for r in misra_gries_heavy_hitters(dfr, "item", k=2).collect()}
    merged = {i: skl.get(i, 0) + skr.get(i, 0) for i in set(skl) | set(skr)}
    bound = len(left) / 3 + len(right) / 3
    for item, est in merged.items():
        assert est <= exact[item]
        assert exact[item] - est <= bound
    for item, c in exact.items():
        if c > bound:
            assert item in merged


def test_windowed_heavy_hitters_stream(spark):
    """Per-window streaming Misra-Gries (windowed_heavy_hitters): windows
    close on the event-time timer (watermark past window end), state
    carries across micro-batches, each (window, item) appears at most
    once (shards are hash-disjoint), per-window bounds hold under
    decrement pressure (k=2, 5 distinct items), and the window inside
    the watermark tail never emits."""
    import os
    import tempfile
    from datetime import datetime

    from proteus_engine_spark.streaming.stateful import windowed_heavy_hitters

    def row(minute, token):
        return (datetime(2024, 1, 1, 0, minute, 0), token)

    # window 0 = minutes 0-4, window 1 = minutes 5-9 (window_ms = 5 min).
    # Window 1 straddles the batch boundary; the minute-30 row advances
    # the watermark past both ends (delay 1 min -> wm 29) but its own
    # window (6) stays open.
    w0 = (["a"] * 8 + ["b"] * 5 + ["c", "d", "e"])
    w1a, w1b = ["p"] * 4 + ["q"] * 2, ["p"] * 3 + ["r", "s", "t"]
    batch_a = [row(i % 5, t) for i, t in enumerate(w0)]
    batch_a += [row(5 + i % 2, t) for i, t in enumerate(w1a)]
    batch_b = [row(7 + i % 3, t) for i, t in enumerate(w1b)]
    batch_b += [row(30, "z")]

    schema = "ts timestamp, token string"
    d = tempfile.mkdtemp(prefix="proteus_whh_")
    spark.createDataFrame(batch_a, schema).coalesce(1).write.parquet(f"{d}/b0")
    spark.createDataFrame(batch_b, schema).coalesce(1).write.parquet(f"{d}/b1")
    src = f"{d}/src"
    os.makedirs(src)
    for i, sub in enumerate(["b0", "b1"]):
        part = [f for f in os.listdir(f"{d}/{sub}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/{sub}/{part}", f"{src}/{i:02d}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    sk = windowed_heavy_hitters(
        stream, "token", window_ms=5 * 60_000, k=2, shards=2
    )
    q = (
        sk.writeStream.outputMode("append").format("memory")
        .queryName("whh_test").start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.table("whh_test").collect()

    # windows are epoch-aligned: id = unix_ms(2024-01-01 00:0x) div 5min
    base = (1704067200000) // (5 * 60_000)
    exact = {0: {}, 1: {}}
    for t in w0:
        exact[0][t] = exact[0].get(t, 0) + 1
    for t in w1a + w1b:
        exact[1][t] = exact[1].get(t, 0) + 1
    got = {}
    for r in rows:
        w = r.window_id - base
        assert w in (0, 1)  # minute-30 window never closes
        key = (w, r.item)
        assert key not in got  # shard disjointness: one row per item
        got[key] = r.est
    for w, d_exact in exact.items():
        n_w = sum(d_exact.values())
        bound = n_w / 3  # N_w/(k+1), k=2 — but per-SHARD totals only
        # tighten it, so the window-level bound must hold
        for (ww, t), est in got.items():
            if ww != w:
                continue
            assert est <= d_exact[t]
            assert d_exact[t] - est <= bound
        for t, c in d_exact.items():
            if c > bound:
                assert (w, t) in got


def test_inner_combinations_validation():
    """Interior/tail combinations now compile; the step-level constructor
    rules still apply (looping step required, consecutive contradicts)."""
    gp = GroupPattern.begin(_comb_interior_sub()).times(2)
    pat, eff = gp.compile()
    assert eff == {0: -1}
    assert any(s.combinations for s in pat.steps)
    # unquantified items carry the flag through too
    g2 = GroupPattern.begin(_comb_interior_sub())
    p2, e2 = g2.compile()
    assert e2 == {0: 1}
    assert any(s.combinations for s in p2.steps)


def test_bloom_probe_single_arrow_crossing(spark):
    """r17 optimization pin: the Bloom probe must appear EXACTLY once in
    the physical plan (corpus side). Left deterministic, Catalyst's
    InferFiltersFromConstraints copies the pandas-UDF predicate across
    the gh equi-join onto the eval side, where it is always-true (a
    Bloom filter has no false negatives on the keys that built it) and
    costs a second ArrowEvalPython crossing; asNondeterministic pins it."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts_bloom

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i} epsilon zeta") for i in range(40)]
    )
    out = ngram_overlap_counts_bloom(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        n=3,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_phash_pairs_single_fingerprint_pass(spark):
    """E18 pin: phash_near_dup_pairs self-joins its banded frame, so
    without the (id, hash) pin the upstream fingerprint pass (payload
    scan + mapInPandas dHash) executed once per join side. After the pin
    the final plan must contain ZERO MapInPandas nodes (the one
    fingerprint pass ran at pin time) and read both join sides from the
    pinned RDD."""
    from pyspark.sql import Row

    from proteus_engine_spark.datapipe.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
    )

    rows = [
        Row(media_id=i, payload=bytes([i % 7] * 250) + bytes([i]))
        for i in range(30)
    ]
    hashes = perceptual_hash(spark.createDataFrame(rows))
    pairs = phash_near_dup_pairs(hashes, max_distance=3, bands=4, bits=60)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan


def test_source_profile_single_tokenize_pass(spark):
    """E18 pin: source_profile_similarity's (source, term, c) profile
    feeds four subplans (both self-join sides + both norm broadcasts);
    the pin makes the docstring's "ONE tokenize pass" literally true —
    the final plan holds no explode/Generate node (the tokenize ran at
    pin time) and the cosine of two identical single-doc sources is 1."""
    from pyspark.sql import Row

    from proteus_engine_spark.datapipe.textstats import (
        source_profile_similarity,
    )

    docs = spark.createDataFrame(
        [
            Row(source="a", text="x y z x"),
            Row(source="b", text="x y z x"),
            Row(source="c", text="q q q"),
        ]
    )
    out = source_profile_similarity(docs)
    got = {(r.source_a, r.source_b): r.cos_sim for r in out.collect()}
    assert got[("a", "b")] == 1.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 4, plan
