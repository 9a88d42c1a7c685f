"""Property-based checks for the r14 STATE-COUNTED group quantifiers
(streaming/cep.py GroupPattern — GroupPattern.java:42's uniform
treatment): times(n), capped/unbounded one_or_more, and optional groups
are each compared against an independent brute-force model over random
event sequences, directly on the pure NFA (_scan — no Spark needed).

Brute-force model for a (a NEXT b) group with relaxed between-repeat
chaining: each (a at i, b at i+1) pair anchors a chain; the next repeat
is the pair starting at the FIRST 'a' after the previous repeat's 'b'
(the loop-back partial consumes the first matching event; strict inner
'b' kills the chain if that 'a' is unpaired)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from proteus_engine_spark.streaming.cep import GroupPattern, Pattern

from tests.conftest import cep_scan

# alphabet: 0 = 'a', 1 = 'b', 2 = noise
SEQ = st.lists(st.integers(min_value=0, max_value=2), max_size=24)


def _sub():
    return Pattern.begin("a", lambda r: r["et"] == 0).next(
        "b", lambda r: r["et"] == 1
    )


def _chains(types):
    """[(start_idx, [(a_idx, b_idx), ...])] — the deterministic repeat
    chain anchored at every paired 'a'."""
    pairs = {
        i: i + 1
        for i in range(len(types) - 1)
        if types[i] == 0 and types[i + 1] == 1
    }
    out = []
    for s in pairs:
        chain = [(s, pairs[s])]
        while True:
            last_b = chain[-1][1]
            nxt = next((t for t in range(last_b + 1, len(types)) if types[t] == 0), None)
            if nxt is None or nxt not in pairs:
                break
            chain.append((nxt, pairs[nxt]))
        out.append((s, chain))
    return out


@given(seq=SEQ, n=st.integers(min_value=1, max_value=4))
@settings(max_examples=200, deadline=None)
def test_group_times_matches_brute_force(seq, n):
    """times(n): one match per anchored chain reaching depth >= n, with
    the n-th repeat's events and count exactly n — never a prefix."""
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(GroupPattern.begin(_sub()).times(n), seq)
    )
    exp = sorted(
        (chain[n - 1][0], chain[n - 1][1], n)
        for _s, chain in _chains(seq)
        if len(chain) >= n
    )
    assert got == exp


@given(seq=SEQ, cap=st.integers(min_value=1, max_value=4))
@settings(max_examples=200, deadline=None)
def test_group_capped_one_or_more_matches_brute_force(seq, cap):
    """one_or_more(max_repeats=N): per-prefix matches at depths
    1..min(chain, N) for each anchored chain."""
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(GroupPattern.begin(_sub()).one_or_more(max_repeats=cap), seq)
    )
    exp = sorted(
        (chain[d - 1][0], chain[d - 1][1], d)
        for _s, chain in _chains(seq)
        for d in range(1, min(len(chain), cap) + 1)
    )
    assert got == exp


@given(seq=SEQ)
@settings(max_examples=200, deadline=None)
def test_group_unbounded_one_or_more_matches_brute_force(seq):
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(GroupPattern.begin(_sub()).one_or_more(), seq)
    )
    exp = sorted(
        (chain[d - 1][0], chain[d - 1][1], d)
        for _s, chain in _chains(seq)
        for d in range(1, len(chain) + 1)
    )
    assert got == exp


@given(seq=st.lists(st.integers(min_value=0, max_value=3), max_size=24))
@settings(max_examples=200, deadline=None)
def test_group_optional_matches_brute_force(seq):
    """e NEXT (a NEXT b)? NEXT p, all strict: for each 'e' at i, the
    taken path needs a,b,p at i+1..i+3 (cnt 1); the skip path needs p at
    i+1 (cnt 0). Exactly one of the two can fire per 'e'."""
    # alphabet: 0='e', 1='a', 2='b', 3='p'
    g = (
        GroupPattern.begin(Pattern.begin("e", lambda r: r["et"] == 0))
        .next(
            Pattern.begin("a", lambda r: r["et"] == 1).next(
                "b", lambda r: r["et"] == 2
            )
        )
        .optional()
        .next(Pattern.begin("p", lambda r: r["et"] == 3))
    )
    got = sorted(
        (m["e"][0], m.get("__gcnt__1", 0), m["p"][0]) for m in cep_scan(g, seq)
    )
    exp = []
    for i, t in enumerate(seq):
        if t != 0:
            continue
        if seq[i + 1 : i + 4] == [1, 2, 3]:
            exp.append((i, 1, i + 3))
        elif i + 1 < len(seq) and seq[i + 1] == 3:
            exp.append((i, 0, i + 1))
    assert got == sorted(exp)
