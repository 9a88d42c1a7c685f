"""Group-pattern tests (GroupPattern.java parity via uniformly
state-counted quantifiers — r14): quantified sub-sequences, all-or-nothing
optional groups, per-repeat-count matches, and the validation contract."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from proteus_engine_spark.streaming.cep import (
    GroupPattern,
    Pattern,
    match_group_pattern,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def _events(spark, seq_per_user):
    rows = []
    for user, types in seq_per_user.items():
        for i, t in enumerate(types):
            rows.append((user * 100 + i, datetime(2024, 1, 1, 0, i), user, t))
    return spark.createDataFrame(rows, SCHEMA)


def _sub(*names):
    it = Pattern.begin(names[0], lambda r, n=names[0]: r["event_type"] == n)
    for n in names[1:]:
        it = it.next(n, lambda r, n=n: r["event_type"] == n)
    return it


def test_group_times_consecutive_vs_relaxed(spark):
    # (a next b) times(2): u1 has the repeats adjacent, u2 has noise
    # between them. Relaxed default matches both; consecutive() only u1.
    ev = _events(spark, {1: ["a", "b", "a", "b"], 2: ["a", "b", "x", "a", "b"]})
    relaxed = GroupPattern.begin(_sub("a", "b")).times(2)
    assert {r["user_id"] for r in match_group_pattern(ev, relaxed, "user_id").collect()} == {1, 2}
    strict = GroupPattern.begin(_sub("a", "b")).times(2).consecutive()
    got = match_group_pattern(ev, strict, "user_id").collect()
    assert len(got) == 1
    r = got[0]
    assert r["user_id"] == 1 and r["a_cnt"] == 2 and r["b_cnt"] == 2
    assert r["a_id"] == 102 and r["b_id"] == 103  # LAST repeat's events


def test_group_optional_all_or_nothing(spark):
    # e, then OPTIONAL (c next v), then p — all strict. u1 takes the group,
    # u2 skips it, u3 has only half the group (c without v): per-step
    # optional would wrongly match u3; all-or-nothing must not.
    ev = _events(spark, {1: ["e", "c", "v", "p"], 2: ["e", "p"], 3: ["e", "c", "p"]})
    g = (
        GroupPattern.begin(_sub("e"))
        .next(_sub("c", "v")).optional()
        .next(_sub("p"))
    )
    rows = {r["user_id"]: r for r in match_group_pattern(ev, g, "user_id").collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["c_cnt"] == 1 and rows[1]["c_id"] == 101 and rows[1]["v_id"] == 102
    assert rows[2]["c_cnt"] == 0 and rows[2]["c_id"] is None and rows[2]["v_id"] is None
    assert rows[1]["p_cnt"] == 1 and rows[2]["p_cnt"] == 1


def test_group_one_or_more_emits_per_repeat_count(spark):
    # (a next b) oneOrMore(max 3): u1's a b a b emits repeat counts 1 and 2
    # (per-prefix, like step-level oneOrMore), anchored at each start.
    ev = _events(spark, {1: ["a", "b", "a", "b"]})
    g = GroupPattern.begin(_sub("a", "b")).one_or_more(max_repeats=3)
    got = sorted(
        (r["a_cnt"], r["a_id"], r["b_id"])
        for r in match_group_pattern(ev, g, "user_id").collect()
    )
    # starts at event 0 (counts 1 and 2) and at event 2 (count 1)
    assert got == [(1, 100, 101), (1, 102, 103), (2, 102, 103)]


def test_group_relaxed_attachment(spark):
    # followed_by between groups skips noise; inside the group stays strict.
    ev = _events(spark, {1: ["a", "b", "x", "x", "c", "d"]})
    g = GroupPattern.begin(_sub("a", "b")).followed_by(_sub("c", "d"))
    got = match_group_pattern(ev, g, "user_id").collect()
    assert len(got) == 1 and got[0]["c_id"] == 104 and got[0]["d_id"] == 105


def test_group_validation(spark):
    # r16: counting quantifiers, interior optional/negation/greedy/until
    # are LEGAL on inner steps (recursive group compilation,
    # GroupPattern.java:30); r17 adds inner allowCombinations AND
    # optional on the quantified item's LAST step (the skip twin routes
    # through exit_step). Still rejected: negation on the LAST step (a
    # trailing guard bypasses the loop wiring; the reference likewise
    # rejects a trailing notFollowedBy, NFACompiler.java:128) and greedy
    # on the LAST step (FLINK-8914 requires a following step)
    GroupPattern.begin(_sub("a", "b").one_or_more()).times(2).compile()
    GroupPattern.begin(
        _sub("a", "b").one_or_more(consecutive=True).greedy()
        .followed_by("c", lambda r: r["event_type"] == "c")
    ).times(2).compile()  # interior greedy: legal since r16
    # tail optional: legal since r17 (property-tested against brute-force
    # fork models, tests/test_round17.py)
    pat_opt, eff_opt = GroupPattern.begin(
        Pattern.begin("a", lambda r: r["event_type"] == "a")
        .followed_by("b", lambda r: r["event_type"] == "b").optional()
    ).times(2).compile()
    assert eff_opt == {0: -1}
    assert pat_opt.steps[-1].quantifier == "optional"
    assert pat_opt.steps[-1].group_loop_to is not None
    # inner allowCombinations: legal since r17 (property-tested against
    # subset-enumerating brute-force models, tests/test_round17.py)
    pat_comb, _ = GroupPattern.begin(
        _sub("a", "b").one_or_more().allow_combinations()
        .followed_by("c", lambda r: r["event_type"] == "c")
    ).times(2).compile()
    assert any(s.combinations for s in pat_comb.steps)
    with pytest.raises(ValueError, match="duplicate step name"):
        GroupPattern.begin(_sub("a")).followed_by(_sub("a")).compile()
    with pytest.raises(ValueError, match="first group cannot be optional"):
        GroupPattern.begin(_sub("a")).optional()
    # r14: quantifiers are state-counted, so a chain that would have
    # exploded to 3^6 enumerated variants compiles to ONE pattern (the
    # pre-r14 _MAX_VARIANTS cap is gone along with the enumeration)
    g = GroupPattern.begin(_sub("a"))
    for n in "bcdefg":
        g = g.followed_by(_sub(n)).one_or_more(max_repeats=3)
    assert isinstance(g.compile()[0], Pattern)
    pat, eff = g.compile()
    assert len(pat.steps) == 7 and eff == {0: 1, **{i: -1 for i in range(1, 7)}}


def test_group_optional_times_order_insensitive(spark):
    """optional() before or after the quantifier composes identically —
    the reference's optional/times are independent flags (Pattern.java);
    applying a quantifier must not silently discard the 0-repeat variant."""
    ev = _events(spark, {1: ["e", "a", "b", "a", "b", "p"], 2: ["e", "p"]})

    def build(opt_first):
        g = GroupPattern.begin(_sub("e")).next(_sub("a", "b"))
        g = g.optional().times(2) if opt_first else g.times(2).optional()
        return g.next(_sub("p"))

    for opt_first in (True, False):
        rows = {
            r["user_id"]: r
            for r in match_group_pattern(ev, build(opt_first), "user_id").collect()
        }
        assert set(rows) == {1, 2}, f"opt_first={opt_first}"
        assert rows[1]["a_cnt"] == 2
        assert rows[2]["a_cnt"] == 0 and rows[2]["a_id"] is None


def test_group_zero_or_more_unbounded_optional(spark):
    """one_or_more() composed with optional() = zeroOrMore, fully
    state-counted (r14): the loop extends as far as the data reaches AND
    the whole group can be skipped. e NEXT (a)* NEXT p over strict
    chains: u1 takes 2 repeats, u2 skips, u3's lone 'a' blocks its skip
    path and feeds a 1-repeat match."""
    ev = _events(spark, {1: ["e", "a", "a", "p"], 2: ["e", "p"], 3: ["e", "a", "p"]})
    g = (
        GroupPattern.begin(_sub("e"))
        .next(_sub("a")).one_or_more().optional()
        .next(_sub("p"))
    )
    got = sorted(
        (r["user_id"], r["a_cnt"], r["a_id"], r["p_id"])
        for r in match_group_pattern(ev, g, "user_id").collect()
    )
    # u1: per-prefix exits at cnt 1 (p not next -> only cnt 2 completes
    # under strict chaining) — the cnt-1 branch needs p right after a@101,
    # which is 'a', so it dies; skip branch dies on 'a'. One match cnt 2.
    # u2: skip branch only. u3: 1-repeat match; skip branch dies.
    assert got == [(1, 2, 102, 103), (2, 0, None, 201), (3, 1, 301, 302)]


def test_group_optional_one_or_more_order_insensitive(spark):
    ev = _events(spark, {1: ["e", "a", "p"], 2: ["e", "p"]})

    def build(opt_first):
        g = GroupPattern.begin(_sub("e")).next(_sub("a"))
        g = (
            g.optional().one_or_more(max_repeats=2)
            if opt_first
            else g.one_or_more(max_repeats=2).optional()
        )
        return g.next(_sub("p"))

    for opt_first in (True, False):
        counts = sorted(
            (r["user_id"], r["a_cnt"])
            for r in match_group_pattern(ev, build(opt_first), "user_id").collect()
        )
        # u1's 0-repeat variant can't match (the 'a' blocks the strict
        # e→p chain); u2 matches only via the skip. One row each.
        assert counts == [(1, 1), (2, 0)], f"opt_first={opt_first}"


def test_group_timeout_side_output(spark):
    """Group-pattern TIMEOUT side output (r14): partials whose within()
    window expires surface through output='timeouts' with the
    repeat-stable schema + timeout_ts — base-named ids for the steps
    matched so far, NULL beyond, group _cnt = repeats COMPLETED at
    expiry (NULL while mid-repeat with none completed)."""
    # inner steps RELAXED (a followedBy b) so stalled partials survive
    # noise to expiry instead of dying on strict contiguity:
    # u1 completes; u2 stalls at the loop-back (1 repeat done); u3
    # stalls mid-repeat (a matched, b never arrives).
    ev = _events(spark, {
        1: ["a", "b", "a", "b"],
        2: ["a", "b"] + ["x"] * 10,
        3: ["a"] + ["x"] * 11,
    })
    sub = Pattern.begin("a", lambda r: r["event_type"] == "a").followed_by(
        "b", lambda r: r["event_type"] == "b"
    )
    g = GroupPattern.begin(sub).times(2).within(5 * 60 * 1000)
    matches = match_group_pattern(ev, g, "user_id")
    assert {r["user_id"] for r in matches.collect()} == {1}
    touts = {r["user_id"]: r for r in match_group_pattern(
        ev, g, "user_id", output="timeouts").collect()}
    assert set(touts) == {2, 3}
    r2 = touts[2]
    assert r2["a_id"] == 200 and r2["b_id"] == 201 and r2["a_cnt"] == 1
    assert r2["timeout_ts"] == r2["a_ts"] + 5 * 60 * 1000
    r3 = touts[3]
    assert r3["a_id"] == 300 and r3["b_id"] is None and r3["b_cnt"] is None
    assert r3["a_cnt"] is None  # mid-repeat: nothing completed yet
